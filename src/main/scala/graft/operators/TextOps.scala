package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (north-star LLM
  * pipeline: language-ID, quality scoring, token counting, fingerprinting).
  *
  * All per-document computations are narrow (no shuffle): they run inside
  * the parquet scan's whole-stage-codegen span, so at 100 TB these scale
  * linearly with input splits. Only the final ORDER BY / aggregations
  * exchange data.
  */
object TextOps {

  /** Per-document token statistics: whitespace words, regex tokens
    * (word-or-punct, a BPE-ish pre-tokenizer), char length check. */
  val qTextStats = QueryDef.sql(
    "q_text_stats",
    """SELECT doc_id,
      |       CAST(len(string_split_regex(trim(text), ' +')) AS INT)    AS n_words,
      |       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_tokens,
      |       CAST(length(text) AS INT)                                 AS n_chars_measured,
      |       round(length(replace(text, ' ', '')) * 1.0 /
      |             len(string_split_regex(trim(text), ' +')), 4)   AS avg_word_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val w = words($"text")
    Tables
      .documents(s, d)
      .select(
        $"doc_id",
        size(w).as("n_words"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .as("n_tokens"),
        length($"text").as("n_chars_measured"),
        round(
          length(regexp_replace($"text", " ", "")) * lit(1.0) / size(w),
          4).as("avg_word_len"))
      .orderBy($"doc_id")
  }

  private val stopEn =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  /** Quality scoring: stopword ratio, type-token ratio (vocab diversity),
    * punctuation density, and a banded quality label. */
  val qTextQuality = QueryDef.sql(
    "q_text_quality",
    s"""SELECT doc_id,
       |  round(len(list_filter(string_split_regex(trim(text), ' +'),
       |        x -> x IN (${stopEn.map("'" + _ + "'").mkString(",")}))) * 1.0
       |        / len(string_split_regex(trim(text), ' +')), 4) AS stopword_ratio,
       |  round(len(list_distinct(string_split_regex(trim(text), ' +'))) * 1.0
       |        / len(string_split_regex(trim(text), ' +')), 4) AS type_token_ratio,
       |  round(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
       |        / length(text), 4)                               AS punct_density,
       |  CASE WHEN len(string_split_regex(trim(text), ' +')) >= 40
       |        AND len(list_distinct(string_split_regex(trim(text), ' +'))) * 1.0
       |            / len(string_split_regex(trim(text), ' +')) > 0.4
       |       THEN 'good' ELSE 'short_or_repetitive' END        AS quality_band
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val w = words($"text")
    val stopArr = array(stopEn.map(lit): _*)
    val stopRatio = round(
      size(filter(w, x => array_contains(stopArr, x))) * lit(1.0) / size(w),
      4)
    val ttr = round(size(array_distinct(w)) * lit(1.0) / size(w), 4)
    Tables
      .documents(s, d)
      .select(
        $"doc_id",
        stopRatio.as("stopword_ratio"),
        ttr.as("type_token_ratio"),
        round(
          size(expr("regexp_extract_all(text, '[^\\\\w\\\\s]', 0)")) * lit(1.0) /
            length($"text"),
          4).as("punct_density"),
        when(
          size(w) >= 40 &&
            size(array_distinct(w)) * lit(1.0) / size(w) > 0.4,
          "good").otherwise("short_or_repetitive").as("quality_band"))
      .orderBy($"doc_id")
  }

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "y", "de", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu"))

  /** N-gram/stopword language-ID heuristic: score each language by distinct
    * stopword overlap; argmax with fixed tie order (en,fr,es,de,unknown).
    * Aggregated into a (actual, predicted) confusion table. */
  val qTextLangid = QueryDef.sql(
    "q_text_langid", {
      val scoresSql = langStops
        .map { case (l, ws) =>
          s"len(list_intersect(list_distinct(string_split_regex(trim(text), ' +')), [${ws
              .map("'" + _ + "'").mkString(",")}])) AS s_$l"
        }
        .mkString(",\n         ")
      s"""WITH scored AS (
         |  SELECT lang,
         |         $scoresSql
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |         CASE WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
         |              WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |              WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |              WHEN s_es >= s_de THEN 'es'
         |              ELSE 'de' END AS predicted
         |  FROM scored)
         |SELECT lang, predicted, count(*) AS n
         |FROM pred GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val distinctW = array_distinct(words($"text"))
    val scores = langStops.map { case (l, ws) =>
      l -> size(array_intersect(distinctW, array(ws.map(lit): _*)))
    }
    val m = scores.toMap
    val predicted = when(
      m("en") === 0 && m("fr") === 0 && m("es") === 0 && m("de") === 0,
      "unknown")
      .when(m("en") >= m("fr") && m("en") >= m("es") && m("en") >= m("de"), "en")
      .when(m("fr") >= m("es") && m("fr") >= m("de"), "fr")
      .when(m("es") >= m("de"), "es")
      .otherwise("de")
    Tables
      .documents(s, d)
      .select($"lang", predicted.as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** Document fingerprinting: md5 over the normalized (lowercased,
    * whitespace-collapsed) text — the batch-friendly stand-in for a
    * rolling-hash content fingerprint. */
  val qFingerprint = QueryDef.sql(
    "q_text_fingerprint",
    """SELECT doc_id,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .select($"doc_id", md5(normText($"text")).as("fp"))
      .orderBy($"doc_id")
  }

  /** Corpus token histogram: explode words, count, top 50 — the classic
    * map-side-combinable wordcount (partial agg before the shuffle). */
  val qTokenHistogram = QueryDef.sql(
    "q_token_histogram",
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS word
      |      FROM documents)
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 50""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(50)
  }

  /** Native tokenizer Generator (graft.plans.TokenizeGenerator) emitting
    * (pos, token) rows — oracle replicated by zipping DuckDB unnests. */
  val qTokenize = QueryDef.sql(
    "q_tokenize_generator",
    """SELECT doc_id,
      |       CAST(unnest([i for i in range(1, len(w) + 1)]) AS INT) AS pos,
      |       unnest(w) AS token
      |FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |      FROM documents WHERE doc_id < 50 AND trim(text) <> '')
      |ORDER BY doc_id, pos""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      // the generator emits nothing for empty text while
      // string_split_regex yields [''] — exclude empties on BOTH sides
      .filter($"doc_id" < 50 && trim($"text") =!= "")
      .select($"doc_id", graft.plans.TokenizeGenerator.tokenize($"text"))
      .orderBy($"doc_id", $"pos")
  }

  /** Sequence packing for training data: concat-and-chop documents into
    * fixed 512-token context windows, packed per language shard. Each doc
    * gets (bin, offset) from the running token total within its shard —
    * the deterministic "concat then chunk" packing a pretraining pipeline
    * runs before tokenized-example writing. The window partitions by
    * lang (the shard key), so packing parallelizes across shards at
    * 100 TB instead of funneling a global order through one task; docs
    * that straddle a boundary spill into the next bin (span > 1). */
  val qPackSequences = QueryDef.sql(
    "q_pack_sequences",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         len(string_split_regex(trim(text), ' +')) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, lang, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n_tokens AS start_tok
      |  FROM t)
      |SELECT doc_id, lang,
      |       CAST(n_tokens AS INT)                  AS n_tokens,
      |       CAST(start_tok // 512 AS INT)          AS bin,
      |       CAST(start_tok % 512 AS INT)           AS offset,
      |       CAST((start_tok + n_tokens - 1) // 512
      |            - start_tok // 512 + 1 AS INT)    AS span_bins
      |FROM packed
      |ORDER BY lang, doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .packLayout(Tables.documents(s, d), "doc_id", "text", "lang")
      .orderBy($"lang", $"doc_id")
  }

  /** Packing-efficiency report over the q_pack_sequences layout: per
    * language shard — bins used, capacity, fill ratio, and the count of
    * boundary-straddling documents (rows a loader must split across
    * context windows). The measurement that picks a context length:
    * raise the window and straddling drops but tail waste grows. One
    * |langs|-row aggregate over the layout; delegates to
    * [[CorpusOps.packEfficiency]]. */
  val qPackEfficiency = QueryDef.sql(
    "q_pack_efficiency",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         len(string_split_regex(trim(text), ' +')) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, lang, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - n_tokens AS start_tok
      |  FROM t)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT)      AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(max((start_tok + n_tokens - 1) // 512) + 1 AS BIGINT)
      |    AS bins_used,
      |  CAST((max((start_tok + n_tokens - 1) // 512) + 1) * 512 AS BIGINT)
      |    AS capacity,
      |  floor(sum(n_tokens) * 10000.0 /
      |        ((max((start_tok + n_tokens - 1) // 512) + 1) * 512) + 0.5)
      |    / 10000.0 AS fill_ratio,
      |  CAST(count(*) FILTER (WHERE (start_tok + n_tokens - 1) // 512
      |                              > start_tok // 512) AS BIGINT)
      |    AS straddle_docs,
      |  CAST(sum((start_tok + n_tokens - 1) // 512 - start_tok // 512)
      |       AS BIGINT) AS boundary_crossings
      |FROM packed
      |GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .packEfficiency(Tables.documents(s, d), "doc_id", "text", "lang")
      .orderBy($"lang")
  }

  /** Winnowing fingerprint (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * local fingerprinting algorithm): 3-word shingle hashes, sliding
    * window of 4 consecutive positions, each window selects its minimum
    * (hash, position) pair — ties break to the LEFTMOST occurrence so
    * selection is total — and the distinct selections form the sketch.
    * Any shared word run of ≥ 6 words between two documents is
    * guaranteed to share a fingerprint, at ~2/(w+1) the shingle volume
    * — the robust middle ground between whole-doc hashing
    * (q_text_fingerprint) and full shingle postings.
    *
    * Scale shape: one (doc, pos, hash) explode, a window PARTITIONED BY
    * doc_id (documents winnow in parallel; no global ordering
    * anywhere), one distinct. The (hash, pos) pair is packed into one
    * BIGINT (40-bit hash, 20-bit position) so the frame minimum is a
    * plain `min` in both engines; positions cap at 2²⁰ ≈ 1M words per
    * document. */
  /** The winnowing-sketch CTE chain (ends in `sel(doc_id, h, sel_pos)`),
    * shared by the fingerprint gate and the pair-candidate gate so the
    * two cannot silently diverge. NOTE: consumers interpolate this into
    * their own stripMargin strings, so no line here may begin with `|`
    * after its own margin strip (a leading `||` concat would be eaten
    * by the consumer's stripMargin). */
  private val winnowCtes: String =
    """t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, len(w) - 2 AS n_sh,
      |         unnest([{'pos': i,
      |                  'h': CAST(concat('0x',
      |                         substr(md5(concat_ws(' ', w[i], w[i+1],
      |                                    w[i+2])), 1, 15)) AS BIGINT)
      |                       % 1099511627776}
      |                 for i in range(1, len(w) - 1)]) AS u
      |  FROM t WHERE len(w) >= 3),
      |keyed AS (
      |  SELECT doc_id, n_sh, u.pos AS pos,
      |         u.h * 1048576 + u.pos AS k
      |  FROM sh),
      |win AS (
      |  SELECT doc_id, pos, n_sh,
      |         min(k) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      |  FROM keyed),
      |sel AS (
      |  SELECT DISTINCT doc_id, mk // 1048576 AS h, mk % 1048576 AS sel_pos
      |  FROM win WHERE pos <= n_sh - 3)""".stripMargin

  val qWinnowFingerprint = QueryDef.sql(
    "q_winnow_fingerprint",
    s"""WITH $winnowCtes
       |SELECT doc_id, CAST(sel_pos AS BIGINT) AS sel_pos, h
       |FROM sel ORDER BY doc_id, sel_pos""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    CorpusOps
      .winnowSketch(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"doc_id", $"sel_pos")
  }

  /** Near-dup CANDIDATE pairs from the winnowing sketch: documents
    * sharing ≥ 2 selected fingerprints, with the shared count — the
    * cheap screen a plagiarism/overlap detector runs before exact
    * verification, at ~2/(w+1) the postings volume of the full shingle
    * index. Same inverted-index + DF-cap shape as q_dedup_ngram_jaccard
    * (the cap never binds at fixture scale — max fingerprint DF is 7 —
    * so the capless oracle is exact); delegates the sketch to
    * [[CorpusOps.winnowSketch]]. */
  val qWinnowPairs = QueryDef.sql(
    "q_winnow_pairs",
    s"""WITH $winnowCtes,
       |hs AS (SELECT DISTINCT doc_id, h FROM sel),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, CAST(n_shared AS BIGINT) AS n_shared
       |FROM pairs WHERE n_shared >= 2
       |ORDER BY d1, d2""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val sel = Dedup.cappedPostings(
      CorpusOps
        .winnowSketch(Tables.documents(s, d), "doc_id", "text")
        .select($"doc_id", $"h".as("s"))
        .distinct()
        .repartition($"s"),
      1000)
    sel
      .as("a")
      .join(sel.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 2)
      .orderBy($"d1", $"d2")
  }

  /** Padding-waste report for length-bucketed batch shaping: bucket
    * documents into fixed 16-token length bands and report, per band,
    * the tokens a loader would PAD if it batched that band to its
    * ceiling — the measurement behind dynamic batching (bucketed
    * batches trade a little padding for no cross-length mixing; the
    * report says how much). Pure scan → one aggregate keyed on the
    * band; the fill fraction uses tie-safe floor(x·10⁴+0.5) rounding. */
  val qBatchPadding = QueryDef.sql(
    "q_batch_padding",
    """WITH t AS (
      |  SELECT doc_id,
      |         len(string_split_regex(trim(text), ' +')) AS n
      |  FROM documents),
      |b AS (SELECT doc_id, n, n // 16 AS bucket FROM t)
      |SELECT bucket,
      |       CAST((bucket + 1) * 16 AS BIGINT)  AS pad_to,
      |       CAST(count(*) AS BIGINT)           AS n_docs,
      |       CAST(min(n) AS BIGINT)             AS min_tokens,
      |       CAST(max(n) AS BIGINT)             AS max_tokens,
      |       CAST(sum(n) AS BIGINT)             AS total_tokens,
      |       CAST((bucket + 1) * 16 * count(*) - sum(n) AS BIGINT)
      |         AS pad_tokens,
      |       floor(sum(n) * 10000.0 / ((bucket + 1) * 16 * count(*)) + 0.5)
      |         / 10000.0 AS fill_frac
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .select(size(words($"text")).as("n"))
      .withColumn("bucket", expr("n div 16"))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"n").cast("long").as("min_tokens"),
        max($"n").cast("long").as("max_tokens"),
        sum($"n").cast("long").as("total_tokens"))
      .withColumn("pad_to", (($"bucket" + 1) * 16).cast("long"))
      .withColumn("pad_tokens",
        ($"pad_to" * $"n_docs" - $"total_tokens").cast("long"))
      .withColumn("fill_frac",
        floor($"total_tokens" * lit(10000.0) /
          ($"pad_to" * $"n_docs") + lit(0.5)) / 10000.0)
      .select($"bucket", $"pad_to", $"n_docs", $"min_tokens",
        $"max_tokens", $"total_tokens", $"pad_tokens", $"fill_frac")
      .orderBy($"bucket")
  }

  /** Bigram language-model statistics: for each of the 30 most frequent
    * head words, its most likely successor and the conditional
    * probability P(next|head) — the count-based n-gram LM a data
    * pipeline builds for perplexity filtering. All counting is integer
    * (one wordcount-shaped shuffle keyed by bigram, then per-head
    * argmax); only the final probability divides, on the ROUNDED margin.
    */
  val qBigramLm = QueryDef.sql(
    "q_bigram_lm",
    """WITH t AS (
      |  SELECT string_split_regex(trim(text), ' +') AS w FROM documents),
      |bg AS (
      |  SELECT unnest([{'head': w[i], 'next': w[i+1]}
      |                 for i in range(1, len(w))]) AS b
      |  FROM t WHERE len(w) >= 2),
      |bc AS (
      |  SELECT b.head AS head, b.next AS next, count(*) AS c
      |  FROM bg GROUP BY 1, 2),
      |hc AS (
      |  SELECT head, sum(c) AS head_cnt FROM bc GROUP BY head),
      |top AS (
      |  SELECT head, head_cnt FROM hc
      |  ORDER BY head_cnt DESC, head LIMIT 30),
      |best AS (
      |  SELECT head, next, c FROM (
      |    SELECT head, next, c,
      |           row_number() OVER (PARTITION BY head
      |                              ORDER BY c DESC, next) AS rk
      |    FROM bc) WHERE rk = 1)
      |SELECT t.head,
      |       CAST(t.head_cnt AS BIGINT) AS head_cnt,
      |       b.next AS best_next,
      |       CAST(b.c AS BIGINT) AS bigram_cnt,
      |       round(b.c * 1.0 / t.head_cnt, 4) AS p_next
      |FROM top t JOIN best b ON t.head = b.head
      |ORDER BY head_cnt DESC, t.head""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TextFunctions.{shingles, words}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"head").orderBy($"c".desc, $"next")
    val bc = Tables
      .documents(s, d)
      .select(words($"text").as("w"))
      // bigram as a (head, next) struct straight off the word array —
      // the explode stays inline so the size(w)>=2 guard is inferable
      .select(explode(shingles($"w", 2)).as("s"))
      .select(
        substring_index($"s", " ", 1).as("head"),
        substring_index($"s", " ", -1).as("next"))
      .groupBy($"head", $"next")
      .agg(count(lit(1)).as("c"))
    val hc = bc.groupBy($"head").agg(sum($"c").as("head_cnt"))
    val top = hc.orderBy($"head_cnt".desc, $"head").limit(30)
    val best = bc
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
    top
      .join(best, "head")
      .select(
        $"head",
        $"head_cnt".cast("long").as("head_cnt"),
        $"next".as("best_next"),
        $"c".as("bigram_cnt"),
        round($"c" * lit(1.0) / $"head_cnt", 4).as("p_next"))
      .orderBy($"head_cnt".desc, $"head")
  }

  /** RAG chunk size / stride (words): 50% overlap, the standard
    * retrieval-chunking shape. */
  val RagSize = 8
  val RagStride = 4

  /** Overlapping sliding-window chunking for retrieval indexes: windows of
    * [[RagSize]] words every [[RagStride]] (tail chunks may be short but
    * are kept — the last words of a document must be retrievable). Pure
    * narrow transform: at 100 TB each task chunks its own split inside
    * the scan's codegen span; the only exchange is the final ORDER BY,
    * which a real pipeline (write-to-index) wouldn't have. */
  val qRagChunks = QueryDef.sql(
    "q_rag_chunks",
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, len(w) AS n_words,
       |         unnest([{'start': i,
       |                  'chunk': list_aggregate(w[i:i+${RagSize - 1}],
       |                                          'string_agg', ' '),
       |                  'n': len(w[i:i+${RagSize - 1}])}
       |                 for i in range(1, len(w)+1, $RagStride)]) AS x
       |  FROM t)
       |SELECT doc_id,
       |       CAST((x.start - 1) / $RagStride AS INT) AS chunk_idx,
       |       CAST(x.start AS INT) AS start_word,
       |       CAST(x.n AS INT) AS n_chunk_words,
       |       x.chunk AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // the SAME column-parameterized chunker the library exposes
    // (CorpusOps.ragChunks) — gate and API cannot drift
    CorpusOps
      .ragChunks(Tables.documents(s, d), "doc_id", "text", RagSize, RagStride)
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Pattern-based PII redaction (emails / URLs / phone-shaped tokens →
    * typed redaction tags). The fixture text carries no PII, so each
    * document first gets a deterministic doc_id-derived contact line
    * planted — the redactor is then verified end-to-end: per-type match
    * counts, the redacted text, and the planted line provably gone.
    * Patterns cover the common real-world shapes (mixed case, '+'/'%'
    * tags and '-' in email locals/domains, digit-group phone formats)
    * while staying in the Java-regex ∩ RE2 dialect so both engines match
    * identically — but this is pattern-based redaction, not an NER-grade
    * PII system (the capability docs say the same). The whole operator is
    * three codegen'd regexp passes inside the scan — no shuffle except
    * the gate's ORDER BY. */
  val qPiiScrub = QueryDef.sql(
    "q_pii_scrub",
    """WITH planted AS (
      |  SELECT doc_id,
      |         text || ' contact user' || doc_id ||
      |         '@example.com or call 555-01' || (doc_id % 100) ||
      |         ' see https://ex.com/p/' || doc_id AS t
      |  FROM documents),
      |scrubbed AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(t,
      |                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z]'))
      |              AS INT) AS n_emails,
      |         CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS INT)
      |           AS n_urls,
      |         CAST(len(regexp_extract_all(t,
      |                '[0-9]{3}[-.][0-9]{3,4}([-.][0-9]{4})?')) AS INT)
      |           AS n_phones,
      |         regexp_replace(
      |           regexp_replace(
      |             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z]',
      |                            '<EMAIL>', 'g'),
      |             'https?://[^ ]+', '<URL>', 'g'),
      |           '[0-9]{3}[-.][0-9]{3,4}([-.][0-9]{4})?', '<PHONE>', 'g')
      |           AS clean_text
      |  FROM planted)
      |SELECT doc_id, n_emails, n_urls, n_phones, clean_text,
      |       CAST(CASE WHEN clean_text LIKE '%example.com%'
      |                   OR clean_text LIKE '%https://%'
      |                 THEN 1 ELSE 0 END AS INT) AS leak
      |FROM scrubbed ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val t = concat($"text", lit(" contact user"), $"doc_id".cast("string"),
      lit("@example.com or call 555-01"), ($"doc_id" % 100).cast("string"),
      lit(" see https://ex.com/p/"), $"doc_id".cast("string"))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[A-Za-z]"
    val urlPat = "https?://[^ ]+"
    val phonePat = "[0-9]{3}[-.][0-9]{3,4}([-.][0-9]{4})?"
    Tables
      .documents(s, d)
      .select($"doc_id", t.as("t"))
      .select(
        $"doc_id",
        size(regexp_extract_all($"t", lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all($"t", lit(urlPat), lit(0))).as("n_urls"),
        size(regexp_extract_all($"t", lit(phonePat), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace($"t", emailPat, "<EMAIL>"),
            urlPat, "<URL>"),
          phonePat, "<PHONE>").as("clean_text"))
      .withColumn("leak",
        when($"clean_text".contains("example.com") ||
          $"clean_text".contains("https://"), 1).otherwise(0).cast("int"))
      .orderBy($"doc_id")
  }

  /** One BPE merge round (tokenizer induction): score all adjacent
    * symbol pairs, pick the most frequent merge, apply it, and emit the
    * top-10 pair table before AND after — the inner loop of training a
    * subword vocabulary on the corpus.
    *
    * Scale (the Sennrich trick): BPE trains on the WORD HISTOGRAM, not
    * the token stream — after one map-side-combined wordcount shuffle,
    * every further step runs on |vocab| rows (broadcastable), so a
    * full merge loop costs one corpus scan + rounds × vocab-sized work.
    * Merge application is a two-pass delimiter replace: deterministic,
    * maximal non-overlapping, and identical in both engines (documented
    * divergence from strict left-to-right scan order on runs like
    * 'aaaaa', where any maximal pairing is a valid BPE step). */
  val qBpeMergeStep = QueryDef.sql(
    "q_bpe_merge_step",
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), ' +')) AS word
      |  FROM documents),
      |wc AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
      |spaced AS (
      |  SELECT word, c, ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sp
      |  FROM wc),
      |pairs AS (
      |  SELECT p, sum(c) AS cnt FROM (
      |    SELECT c, unnest([substr(word, i, 1) || ' ' || substr(word, i+1, 1)
      |                      for i in range(1, len(word))]) AS p
      |    FROM wc WHERE len(word) >= 2)
      |  GROUP BY p),
      |before10 AS (
      |  SELECT 'before' AS phase, p, cnt,
      |         row_number() OVER (ORDER BY cnt DESC, p) AS rnk
      |  FROM pairs),
      |best AS (SELECT p AS bp FROM before10 WHERE rnk = 1),
      |merged AS (
      |  SELECT c,
      |         replace(replace(sp,
      |                   ' ' || bp || ' ', ' ' || replace(bp, ' ', '') || ' '),
      |                 ' ' || bp || ' ', ' ' || replace(bp, ' ', '') || ' ')
      |           AS sp
      |  FROM spaced CROSS JOIN best),
      |after_pairs AS (
      |  SELECT p, sum(c) AS cnt FROM (
      |    SELECT c, unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))])
      |             AS p
      |    FROM (SELECT c, string_split_regex(trim(sp), ' +') AS s FROM merged)
      |    WHERE len(s) >= 2)
      |  GROUP BY p),
      |after10 AS (
      |  SELECT 'after' AS phase, p, cnt,
      |         row_number() OVER (ORDER BY cnt DESC, p) AS rnk
      |  FROM after_pairs)
      |SELECT phase, CAST(rnk AS INT) AS rnk, p AS pair,
      |       CAST(cnt AS BIGINT) AS wcount
      |FROM (SELECT * FROM before10 WHERE rnk <= 10
      |      UNION ALL SELECT * FROM after10 WHERE rnk <= 10)
      |ORDER BY phase, rnk""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    // top-10 via orderBy+limit (TakeOrderedAndProject → per-partition
    // heaps), rank derived AFTER the limit over the 10 survivors — the
    // pair vocabulary never transits a single-partition window (the old
    // partitionBy(lit(0)) form did exactly that once Spark 4's
    // EliminateWindowPartitions folded the literal key away)
    def top10Ranked(pairs: org.apache.spark.sql.DataFrame) =
      CorpusOps.boundedRank(
        pairs.orderBy($"cnt".desc, $"p").limit(10),
        struct((-$"cnt").as("negCnt"), $"p"), "rnk")
    val wc = Tables
      .documents(s, d)
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("c"))
    def pairCounts(df: org.apache.spark.sql.DataFrame) = df
      .filter(size($"s") >= 2)
      .select($"c",
        explode(transform(sequence(lit(1), size($"s") - 1),
          i => concat(element_at($"s", i), lit(" "),
            element_at($"s", i + 1)))).as("p"))
      .groupBy($"p")
      .agg(sum($"c").as("cnt"))
    val chars = wc.select($"c",
      transform(sequence(lit(1), length($"word")),
        i => $"word".substr(i, lit(1))).as("s"))
    val before10 = top10Ranked(pairCounts(chars))
    val best = before10.filter($"rnk" === 1).select($"p".as("bp"))
    val applyMerge = expr(
      """replace(replace(sp,
        |          ' ' || bp || ' ', ' ' || replace(bp, ' ', '') || ' '),
        |        ' ' || bp || ' ', ' ' || replace(bp, ' ', '') || ' ')
        |""".stripMargin)
    val merged = wc
      .select($"c",
        concat(lit(" "), regexp_replace($"word", "(.)", "$1 ")).as("sp"))
      .crossJoin(broadcast(best))
      .select($"c", split(trim(applyMerge), " +").as("s"))
    val after10 = top10Ranked(pairCounts(merged))
    val out = before10
      .withColumn("phase", lit("before"))
      .unionByName(after10.withColumn("phase", lit("after")))
    out
      .select($"phase", $"rnk", $"p".as("pair"),
        $"cnt".cast("long").as("wcount"))
      .orderBy($"phase", $"rnk")
  }

  /** Result of a BPE training run ([[bpeTrain]]): the learned merge
    * sequence as (spaced pair, count-at-merge-time), in merge order. */
  final case class BpeResult(merges: Seq[(String, Long)])

  /** Multi-round BPE training loop — the full tokenizer-induction inner
    * loop on top of the one-round [[qBpeMergeStep]] (the same relation
    * lloydTrain bears to q_kmeans_step): repeat (score all adjacent
    * symbol pairs → take the most frequent → apply the merge) `nMerges`
    * times, stopping early when no pair repeats (count < 2 — a merge
    * with count 1 compresses nothing).
    *
    * Scale (the Sennrich formulation): training runs on the WORD
    * HISTOGRAM — after the one map-side-combined wordcount shuffle,
    * every round is a vocab-sized pair aggregate (orderBy+limit(1)
    * lowers to per-partition heaps, so nothing vocab-sized transits a
    * single task) plus a narrow two-pass delimiter replace, with a
    * lineage cut per round. The per-round driver collect is ONE row
    * (the winning pair) — aggregate-sized, like lloydTrain's cohesion.
    * Merge application is the same deterministic maximal
    * non-overlapping two-pass replace as the gated single step (and its
    * documented divergence on runs like 'aaaaa'); the spec replays the
    * identical recipe in plain Scala as a third engine and asserts the
    * full merge sequence matches. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      nMerges: Int): BpeResult = {
    val s = docs.sparkSession
    import s.implicits._
    var rep = docs
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("c"))
      .select($"c",
        concat(lit(" "), regexp_replace($"word", "(.)", "$1 ")).as("sp"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, Long)]
    var exhausted = false
    var round = 0
    while (round < nMerges && !exhausted) {
      val top = rep
        .select($"c", split(trim($"sp"), " +").as("s"))
        .filter(size($"s") >= 2)
        .select($"c",
          explode(transform(sequence(lit(1), size($"s") - 1),
            i => concat(element_at($"s", i), lit(" "),
              element_at($"s", i + 1)))).as("p"))
        .groupBy($"p")
        .agg(sum($"c").as("cnt"))
        .orderBy($"cnt".desc, $"p")
        .limit(1)
        .collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) exhausted = true
      else {
        val bp = top.head.getAs[String]("p")
        val cnt = top.head.getAs[Long]("cnt")
        merges += ((bp, cnt))
        val spaced = " " + bp + " "
        val fused = " " + bp.replace(" ", "") + " "
        // Spark 3.5+ literal replace (codegen'd, no regex escaping
        // hazards for tokens carrying regex metacharacters)
        def lr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          org.apache.spark.sql.functions.replace(c, lit(spaced), lit(fused))
        rep = rep
          .withColumn("sp", lr(lr($"sp")))
          .localCheckpoint()
      }
      round += 1
    }
    BpeResult(merges.result())
  }

  /** Apply a trained BPE merge sequence ([[bpeTrain]]) to a corpus: every
    * word is segmented into the pieces the merge list produces, and each
    * document gets its in-order piece sequence — the tokenizer-apply half
    * of the train→encode lifecycle.
    *
    * Scale: encoding runs on the DISTINCT WORD VOCABULARY, not the token
    * stream (Zipf: |vocab| ≪ corpus), so the k merge applications — each
    * a narrow codegen'd literal replace, same deterministic maximal
    * non-overlapping two-pass recipe as training — iterate over a
    * vocab-sized table with a lineage cut every 8 rounds to bound plan
    * depth. The corpus is touched exactly twice: once to build the vocab,
    * once to join the encoded pieces back on the word key (broadcast when
    * the vocab fits, shuffle otherwise — Spark's planner decides from
    * stats). Piece order inside a document is reconstructed from
    * posexplode positions via sort_array, not collect_list order.
    * Returns (doc_id, n_words, n_pieces, pieces). */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame,
      merges: Seq[String]): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var vocab = docs
      .select(explode(words($"text")).as("word"))
      .distinct()
      .select($"word",
        concat(lit(" "), regexp_replace($"word", "(.)", "$1 ")).as("sp"))
    merges.zipWithIndex.foreach { case (bp, i) =>
      val spaced = " " + bp + " "
      val fused = " " + bp.replace(" ", "") + " "
      def lr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.replace(c, lit(spaced), lit(fused))
      vocab = vocab.withColumn("sp", lr(lr($"sp")))
      if ((i + 1) % 8 == 0) vocab = vocab.localCheckpoint()
    }
    val enc = vocab.select($"word", split(trim($"sp"), " +").as("wp"))
    docs
      .select($"doc_id", posexplode(words($"text")).as(Seq("pos", "word")))
      .join(enc, "word")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        flatten(sort_array(collect_list(struct($"pos", $"wp")))("wp"))
          .as("pieces"))
      .select($"doc_id", $"n_words",
        size($"pieces").cast("long").as("n_pieces"), $"pieces")
  }

  /** Per-document Shannon entropy of the token distribution — the
    * information-theoretic gibberish/boilerplate signal (near-zero
    * entropy = one token repeated; entropy ≈ log2(n_types) = maximally
    * diverse). Computed via the aggregate identity
    * H = log2(n) − (Σ c·log2 c)/n, so the whole metric is ONE pair of
    * linear shuffles — (doc, token) counts, then the per-doc sum — with
    * no quadratic per-array scan, and stays correct for arbitrarily long
    * documents (an array-side histogram would be O(len²) per row).
    * `norm_entropy` divides by log2(n_types): 1.0 = uniform over the
    * doc's own vocabulary, defined as 0 for single-type docs. */
  val qTokenEntropy = QueryDef.sql(
    "q_token_entropy",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
      |tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, sum(c) AS n, count(*) AS n_types,
      |         sum(c * log2(c * 1.0)) AS s
      |  FROM tc GROUP BY doc_id)
      |SELECT doc_id,
      |       CAST(n AS BIGINT) AS n_tokens,
      |       CAST(n_types AS BIGINT) AS n_types,
      |       round(log2(n * 1.0) - s / n, 4) + 0.0 AS token_entropy,
      |       CASE WHEN n_types = 1 THEN 0.0
      |            ELSE round((log2(n * 1.0) - s / n)
      |                       / log2(n_types * 1.0), 4) + 0.0 END AS norm_entropy
      |FROM ag ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val tc = Tables.documents(s, d)
      .select($"doc_id", explode(words($"text")).as("token"))
      .groupBy($"doc_id", $"token")
      .agg(count(lit(1)).as("c"))
    val h = log2($"n" * lit(1.0)) - $"s" / $"n"
    tc.groupBy($"doc_id")
      .agg(
        sum($"c").as("n"),
        count(lit(1)).as("n_types"),
        sum($"c" * log2($"c" * lit(1.0))).as("s"))
      .select(
        $"doc_id",
        $"n".cast("long").as("n_tokens"),
        $"n_types".cast("long").as("n_types"),
        (round(h, 4) + 0.0).as("token_entropy"),
        when($"n_types" === 1, 0.0)
          .otherwise(round(h / log2($"n_types" * lit(1.0)), 4) + 0.0)
          .as("norm_entropy"))
      .orderBy($"doc_id")
  }

  /** How many top-ranked tokens the Zipf fit regresses over. */
  val ZipfTopN = 1000

  /** Zipf rank-frequency fit: OLS of log10(count) on log10(rank) over the
    * top-[[ZipfTopN]] tokens. Natural text sits near slope ≈ −1; a corpus
    * whose slope drifts toward 0 is template/boilerplate-heavy and one
    * below −1.5 has a starved tail — the single-number distributional
    * health check run per ingest batch before mixing.
    *
    * Engine determinism: both logs are quantized to 1e-5 integer units
    * BEFORE the regression, so all five OLS sums are exact integer
    * arithmetic; slope/intercept/r² are then computed with an identical
    * operation ordering in both engines (double ops on identical inputs
    * are IEEE-deterministic).
    *
    * Scale (100 TB): the wordcount is the map-side-combinable shuffle;
    * ranking runs AFTER orderBy().limit(ZipfTopN) (per-partition top-k
    * heaps) via [[CorpusOps.boundedRank]] over the surviving ZipfTopN
    * rows — no single-partition window anywhere in the plan. */
  val qZipfFit = QueryDef.sql(
    "q_zipf_fit",
    s"""WITH tc AS (
       |  SELECT word, count(*) AS n
       |  FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |top AS (SELECT word, n FROM tc ORDER BY n DESC, word LIMIT $ZipfTopN),
       |rk AS (
       |  SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rank
       |  FROM top),
       |xy AS (
       |  SELECT CAST(floor(log10(rank) * 100000 + 0.5) AS BIGINT) AS x,
       |         CAST(floor(log10(n) * 100000 + 0.5) AS BIGINT) AS y
       |  FROM rk),
       |sm AS (
       |  SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
       |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM xy)
       |SELECT CAST(k AS BIGINT) AS n_ranks,
       |       round((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx), 4)
       |         + 0.0 AS slope,
       |       round(sy * 1.0 / k
       |             - ((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx))
       |               * (sx * 1.0 / k), 4) + 0.0 AS intercept,
       |       round(((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx))
       |             * ((k * sxy - sx * sy) * 1.0
       |                / (k * syy - sy * sy)), 4) + 0.0 AS r2
       |FROM sm""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val top = Tables.documents(s, d)
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(ZipfTopN)
    val xy = CorpusOps
      // rank AFTER the limit (≤ ZipfTopN rows): broadcast-join rank,
      // not a single-partition window
      .boundedRank(top, struct((-$"n").as("nn"), $"word"), "rank")
      .select(
        floor(log10($"rank") * 100000.0 + 0.5).cast("long").as("x"),
        floor(log10($"n") * 100000.0 + 0.5).cast("long").as("y"))
    // identical operation ordering to the oracle: every product stays
    // integer until the single *1.0 cast, divisions happen last
    val num = $"k" * $"sxy" - $"sx" * $"sy"
    val den = $"k" * $"sxx" - $"sx" * $"sx"
    val deny = $"k" * $"syy" - $"sy" * $"sy"
    val slope = num * lit(1.0) / den
    xy.agg(
        count(lit(1)).as("k"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select(
        $"k".cast("long").as("n_ranks"),
        (round(slope, 4) + 0.0).as("slope"),
        (round($"sy" * lit(1.0) / $"k" - slope * ($"sx" * lit(1.0) / $"k"), 4)
          + 0.0).as("intercept"),
        (round(slope * (num * lit(1.0) / deny), 4) + 0.0).as("r2"))
  }

  /** PMI collocation mining: the top-20 adjacent token pairs by lift =
    * c(ab)·N / (c(a)·c(b)) with pair count ≥ 5 — since PMI =
    * ln(lift · N/T) and N/T is constant per corpus, ranking by lift IS
    * the PMI ranking, with no logarithm in the gate. Collocations are
    * what a tokenizer-merge or phrase-mining pass consumes ("new york"
    * should be one unit; "of the" scores low because both sides are
    * everywhere).
    *
    * Engine determinism: lift's numerator and denominator are products
    * of exact integer counts evaluated in an identical order in both
    * engines; the min-count floor keeps the candidate set crisp.
    *
    * Scale (100 TB): two wordcount-shaped shuffles (unigrams, bigrams) —
    * both map-side combinable — then vocab-bounded joins keyed by token;
    * the final top-20 lowers to TakeOrderedAndProject per-partition
    * heaps, so nothing bigger than the aggregate tables ever moves. */
  val qPmiCollocations = QueryDef.sql(
    "q_pmi_collocations",
    """WITH t AS (
      |  SELECT string_split_regex(trim(text), ' +') AS w FROM documents),
      |uc AS (
      |  SELECT word, count(*) AS n
      |  FROM (SELECT unnest(w) AS word FROM t) GROUP BY word),
      |nn AS (SELECT sum(n) AS n_tok FROM uc),
      |bg AS (
      |  SELECT unnest([{'head': w[i], 'next': w[i+1]}
      |                 for i in range(1, len(w))]) AS b
      |  FROM t WHERE len(w) >= 2),
      |bc AS (
      |  SELECT b.head AS head, b.next AS next, count(*) AS c
      |  FROM bg GROUP BY 1, 2),
      |j AS (
      |  SELECT bc.head, bc.next, bc.c, a.n AS head_n, z.n AS next_n,
      |         nn.n_tok
      |  FROM bc
      |  JOIN uc a ON bc.head = a.word
      |  JOIN uc z ON bc.next = z.word
      |  CROSS JOIN nn
      |  WHERE bc.c >= 5)
      |SELECT head, next,
      |       CAST(c AS BIGINT) AS pair_n,
      |       CAST(head_n AS BIGINT) AS head_n,
      |       CAST(next_n AS BIGINT) AS next_n,
      |       round(c * 1.0 * n_tok / (head_n * 1.0 * next_n), 4) AS lift
      |FROM j
      |ORDER BY c * 1.0 * n_tok / (head_n * 1.0 * next_n) DESC, head, next
      |LIMIT 20""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.TextFunctions.shingles
    val t = Tables.documents(s, d).select(words($"text").as("w"))
    val uc = t
      .select(explode($"w").as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
    val nn = uc.agg(sum($"n").as("n_tok"))
    val bc = t
      .select(explode(shingles($"w", 2)).as("sh"))
      .select(
        substring_index($"sh", " ", 1).as("head"),
        substring_index($"sh", " ", -1).as("next"))
      .groupBy($"head", $"next")
      .agg(count(lit(1)).as("c"))
      .filter($"c" >= 5)
    val lift =
      $"c" * lit(1.0) * $"n_tok" / ($"head_n" * lit(1.0) * $"next_n")
    bc
      .join(uc.select($"word", $"n".as("head_n")), $"head" === $"word")
      .drop("word")
      .join(uc.select($"word", $"n".as("next_n")), $"next" === $"word")
      .drop("word")
      .crossJoin(broadcast(nn))
      .orderBy(lift.desc, $"head", $"next")
      .limit(20)
      .select($"head", $"next",
        $"c".cast("long").as("pair_n"),
        $"head_n".cast("long").as("head_n"),
        $"next_n".cast("long").as("next_n"),
        round(lift, 4).as("lift"))
  }

  /** WordPiece greedy longest-match-first encoding (Schuster & Nakajima
    * 2012 — the BERT tokenizer family, complementing [[bpeTrain]]/
    * [[bpeEncode]]'s merge-list family): each distinct word is segmented
    * by repeatedly taking the LONGEST vocabulary piece that prefixes the
    * remaining suffix; non-initial positions match with the `##`
    * continuation prefix; a word with an unmatchable position encodes to
    * the single `[UNK]` piece (whole-word fallback, the reference
    * tokenizer's behavior). Returns (word, pieces, is_unk) over the
    * corpus's distinct words — the Zipf-bounded vocabulary relation a
    * doc-level encode joins back to, exactly like [[bpeEncode]].
    *
    * Dataflow (100 TB): the piece table broadcasts; each greedy round
    * advances ALL unfinished words simultaneously — candidate prefixes
    * (≤ maxPieceLen per word) equi-join the broadcast pieces, argmax
    * length wins, and the round count is bounded by pieces-per-word
    * (≤ longest word), never by corpus size. State stays distinct-word
    * sized; lineage cut every 8 rounds. */
  def wordpieceEncode(docs: org.apache.spark.sql.DataFrame,
      pieces: Seq[String]): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pieceDf = broadcast(pieces.toDF("piece"))
    val maxLen = pieces
      .map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
    var state = docs
      .select(explode(words($"text")).as("word"))
      .distinct()
      .select($"word", $"word".as("rem"),
        array().cast("array<string>").as("pieces"),
        lit(true).as("first"), lit(false).as("failed"))
    var iter = 0
    var remaining = 1L
    val maxIter = 48
    while (remaining > 0 && iter < maxIter) {
      val unfinished = state.filter(length($"rem") > 0 && !$"failed")
      val finishedPart = state.filter(length($"rem") === 0 || $"failed")
      val cands = unfinished
        .select($"word", $"rem", $"pieces", $"first",
          explode(sequence(lit(1), least(lit(maxLen), length($"rem"))))
            .as("l"))
        .select($"word", $"rem", $"pieces", $"first", $"l",
          when($"first", $"rem".substr(lit(1), $"l"))
            .otherwise(concat(lit("##"), $"rem".substr(lit(1), $"l")))
            .as("key"))
        .join(pieceDf, $"key" === $"piece")
      val best = cands.groupBy($"word").agg(max($"l").as("bl"))
      val adv = cands
        .join(best, Seq("word"))
        .filter($"l" === $"bl")
        .select($"word",
          $"rem".substr($"l" + 1, length($"rem")).as("rem"),
          concat($"pieces", array($"key")).as("pieces"),
          lit(false).as("first"), lit(false).as("failed"))
      val unkNew = unfinished
        .join(best, Seq("word"), "left_anti")
        .select($"word", lit("").as("rem"),
          array(lit("[UNK]")).as("pieces"),
          lit(false).as("first"), lit(true).as("failed"))
      state = finishedPart.unionByName(adv).unionByName(unkNew)
      if ((iter + 1) % 8 == 0) state = state.localCheckpoint()
      remaining = state.filter(length($"rem") > 0 && !$"failed").count()
      iter += 1
    }
    require(remaining == 0,
      s"wordpieceEncode: $remaining words unfinished after $maxIter " +
        "rounds (a word needs more pieces than the round bound)")
    state.select($"word", $"pieces", $"failed".as("is_unk"))
  }

  /** Max candidate piece length for the unigram LM tokenizer. */
  val UnigramMaxPieceLen = 6

  /** Log-prob charged for a character absent from the trained inventory
    * (encode-time novel chars) — far below any trained piece so the
    * fallback never outbids a real decomposition. */
  val UnigramUnkLogp: Double = -1e4

  /** Best unigram segmentation of `word` under `logp` (Viterbi DP).
    * Deterministic: positions scanned left-to-right, candidate lengths
    * ascending, strict improvement — equal-score splits keep the
    * shortest final piece. Characters missing from the inventory fall
    * back to [[UnigramUnkLogp]], so every word segments. Exposed (not
    * private) because the spec replays it against an independent DP. */
  def viterbiSegment(
      word: String,
      logp: scala.collection.Map[String, Double]): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(back, -1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val maxL = math.min(UnigramMaxPieceLen, i)
      var l = 1
      while (l <= maxL) {
        logp.get(word.substring(i - l, i)) match {
          case Some(p) =>
            val cand = best(i - l) + p
            if (cand > best(i)) { best(i) = cand; back(i) = l }
          case None => ()
        }
        l += 1
      }
      if (back(i) == -1) { // novel char: fallback keeps the DP total
        best(i) = best(i - 1) + UnigramUnkLogp
        back(i) = 1
      }
      i += 1
    }
    val rev = new scala.collection.mutable.ArrayBuffer[String]
    var pos = n
    while (pos > 0) {
      val l = back(pos)
      rev += word.substring(pos - l, pos)
      pos -= l
    }
    rev.reverse.toSeq
  }

  /** Unigram-LM tokenizer training (the SentencePiece/Kudo-2018 family
    * member beside [[bpeTrain]] and [[wordpieceEncode]]): seed a large
    * substring inventory from the word histogram, then EM — Viterbi-
    * segment the vocabulary under current piece probabilities (E),
    * re-estimate probabilities from freq-weighted piece usage and prune
    * to the target size keeping every observed character (M).
    * Returns (piece, prob, rank), rank 1 = most probable.
    *
    * Scale (100 TB): everything after the ONE map-side-combined
    * wordcount shuffle runs on the Zipf-bounded DISTINCT-WORD histogram.
    * Seeding is a distributed substring aggregate with a per-partition-
    * heap top-k (never a vocab-sized window); each EM round is one
    * mapPartitions Viterbi pass over the word histogram against the
    * BROADCAST piece table plus an aggregate-sized usage rollup. Driver
    * state is only ever the inventory itself (≤ 4×vocabSize rows) —
    * the corpus is read exactly once. */
  def unigramTrain(
      docs: org.apache.spark.sql.DataFrame,
      vocabSize: Int,
      emRounds: Int = 3): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val hist = docs
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // finally-unpersist: a failed job mid-EM leaves via exception, and a
    // return-path-only unpersist would leak the cached wordcount RDD into
    // the shared JVM
    try {
    // observed characters: always retained (they are the fallback floor)
    val charCounts = hist
      .flatMap { case (w, f) => w.map(c => (c.toString, f)) }
      .reduceByKey(_ + _)
      .collect()
      .toMap
    // multi-char seed: substrings scored by freq-weighted occurrence ×
    // (len-1) (compression value), Spark-side top-k via takeOrdered
    val seedBudget = math.max(vocabSize * 4 - charCounts.size, 0)
    implicit val ord: Ordering[(Long, String)] =
      Ordering.Tuple2(Ordering[Long].reverse, Ordering[String])
    val multiSeed = hist
      .flatMap { case (w, f) =>
        for {
          l <- 2 to math.min(UnigramMaxPieceLen, w.length)
          st <- 0 to w.length - l
        } yield (w.substring(st, st + l), f)
      }
      .reduceByKey(_ + _)
      .map { case (p, c) => (c * (p.length - 1), p) }
      .takeOrdered(seedBudget)
    var counts: Map[String, Long] =
      charCounts ++ multiSeed.map { case (sc, p) => p -> sc }.toMap
    var round = 0
    while (round < emRounds) {
      val total = counts.values.sum.toDouble
      val logp = counts.map { case (p, c) => p -> math.log(c / total) }
      val bc = s.sparkContext.broadcast(logp)
      // E: freq-weighted piece usage under Viterbi segmentation
      val usage = hist
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap
            .empty[String, Long]
            .withDefaultValue(0L)
          it.foreach { case (w, f) =>
            viterbiSegment(w, bc.value).foreach(p => m(p) += f)
          }
          m.iterator
        }
        .reduceByKey(_ + _)
        .collect()
        .toMap
      bc.destroy()
      // M: re-estimate and prune — chars unconditionally (+1 smoothing so
      // an unused char keeps a finite prob), multis by usage desc
      val charPart = charCounts.keys.map(c => c -> (usage.getOrElse(c, 0L) + 1L))
      val multiBudget = math.max(vocabSize - charCounts.size, 0)
      val keepMultis = usage.iterator
        .filter { case (p, c) => p.length > 1 && c > 0 }
        .toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(if (round == emRounds - 1) multiBudget else multiBudget * 2)
      counts = (charPart ++ keepMultis).toMap
      round += 1
    }
    val total = counts.values.sum.toDouble
    val rows = counts.toSeq
      .sortBy { case (p, c) => (-c, p) }
      .zipWithIndex
      .map { case ((p, c), i) => (p, c / total, i + 1) }
    s.createDataFrame(rows).toDF("piece", "prob", "rank")
    } finally hist.unpersist()
  }

  /** Apply a trained unigram model ([[unigramTrain]]) to a corpus:
    * Viterbi-segment the DISTINCT word vocabulary (Zipf-bounded, one
    * mapPartitions pass against the broadcast model) and return
    * (word, pieces, n_pieces) — join back on the word key to encode
    * documents, exactly the [[bpeEncode]] lifecycle. */
  def unigramEncode(
      docs: org.apache.spark.sql.DataFrame,
      model: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val logp = model
      .select($"piece", $"prob")
      .as[(String, Double)]
      .collect()
      .map { case (p, pr) => p -> math.log(pr) }
      .toMap
    val bc = s.sparkContext.broadcast(logp)
    docs
      .select(explode(words($"text")).as("word"))
      .distinct()
      .as[String]
      .mapPartitions { it =>
        it.map(w => (w, viterbiSegment(w, bc.value)))
      }
      .toDF("word", "pieces")
      .withColumn("n_pieces", size($"pieces"))
  }

  /** Vocabulary size for the fertility model (top-V by count, word-asc
    * tie-break — the q_vocab_oov convention). */
  val FertilityVocab = 1000

  /** Tokenizer fertility by language — the tokenizer-sizing metric read
    * next to q_vocab_coverage: under a top-[[FertilityVocab]] word
    * vocabulary with character fallback (an in-vocab word costs 1 piece,
    * an OOV word decomposes into its len(word) character pieces — the
    * byte-fallback account every production BPE carries), how many pieces
    * does each language pay per word? Languages whose fertility stays
    * near 1 are well-served by the vocabulary; a high-fertility language
    * is under-represented in it and will consume disproportionate
    * sequence length in training (the multilingual-tokenizer fairness
    * metric). Exact integer counts; the two ratios are the only floats.
    *
    * Scale (100 TB): one wordcount shuffle builds the vocabulary, which
    * broadcasts (V rows) back onto the token stream; the per-language
    * reduce is map-side combinable. */
  val qTokenizerFertility = QueryDef.sql(
    "q_tokenizer_fertility",
    s"""WITH t AS (
       |  SELECT lang, unnest(string_split_regex(trim(text), ' +')) AS word
       |  FROM documents),
       |v AS (
       |  SELECT word FROM (
       |    SELECT word, count(*) AS c FROM t GROUP BY word
       |    ORDER BY c DESC, word LIMIT $FertilityVocab)),
       |j AS (
       |  SELECT t.lang, t.word, v.word AS vword
       |  FROM t LEFT JOIN v ON t.word = v.word)
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(CASE WHEN vword IS NOT NULL THEN 1
       |                     ELSE len(word) END) AS BIGINT) AS n_pieces,
       |       CAST(sum(CASE WHEN vword IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_oov_words,
       |       round(sum(CASE WHEN vword IS NOT NULL THEN 1
       |                      ELSE len(word) END) * 1.0 / count(*), 4)
       |         AS fertility,
       |       round(sum(CASE WHEN vword IS NULL THEN 1 ELSE 0 END) * 1.0
       |             / count(*), 4) AS oov_frac
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"lang", explode(words($"text")).as("word"))
    val vocab = tok
      .groupBy($"word")
      .agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"word")
      .limit(FertilityVocab)
      .select($"word".as("vword"))
    tok
      .join(broadcast(vocab), $"word" === $"vword", "left")
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_words"),
        sum(when($"vword".isNotNull, 1L).otherwise(length($"word")))
          .as("n_pieces"),
        sum(when($"vword".isNull, 1L).otherwise(0L)).as("n_oov_words"))
      .select($"lang", $"n_words", $"n_pieces", $"n_oov_words",
        round($"n_pieces" * lit(1.0) / $"n_words", 4).as("fertility"),
        round($"n_oov_words" * lit(1.0) / $"n_words", 4).as("oov_frac"))
      .orderBy($"lang")
  }

  /** Unicode canonicalization audit: NFC-normalize + collapse whitespace
    * per document, report the byte/char deltas and whether the doc was
    * already canonical. Runs the native codegen'd [[graft.plans.NfcNormalize]]
    * expression (a UDF here would cut the scan's codegen span); DuckDB's
    * `nfc_normalize` is the oracle twin. Pure per-row projection — fused
    * into the scan, the only exchange is the final ORDER BY. At 100 TB
    * this is the mandatory pre-pass before any hash-based dedup: NFC-
    * distinct spellings of the same text must fingerprint identically. */
  val qTextNormalize = QueryDef.sql(
    "q_text_normalize",
    """WITH n AS (
      |  SELECT doc_id,
      |         trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')) AS norm,
      |         text
      |  FROM documents)
      |SELECT doc_id,
      |       length(norm) AS n_chars_norm,
      |       CASE WHEN norm = text THEN 1 ELSE 0 END AS canonical,
      |       CASE WHEN regexp_matches(text, '[^ -~]') THEN 0 ELSE 1 END AS ascii_only,
      |       md5(norm) AS norm_digest
      |FROM n ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .withColumn(
        "norm",
        trim(regexp_replace(graft.plans.NfcNormalize.nfcNormalize($"text"), "\\s+", " ")))
      .select(
        $"doc_id",
        length($"norm").cast("long").as("n_chars_norm"),
        when($"norm" === $"text", 1).otherwise(0).as("canonical"),
        when($"text".rlike("[^ -~]"), 0).otherwise(1).as("ascii_only"),
        md5(encode($"norm", "UTF-8")).as("norm_digest"))
      .orderBy($"doc_id")
  }

  /** Unigram-LM seed inventory — the gated stage of [[unigramTrain]]
    * (the relation q_bpe_merge_step bears to bpeTrain): over the
    * freq-weighted word histogram, score every substring of length 2–6
    * by weighted-occurrence × (len−1) (its compression value) and emit
    * the top 30 seed pieces. The EM rounds on top are spec-gated
    * (plain-Scala Viterbi parity in ScoringSpec).
    *
    * Scale (100 TB): one wordcount shuffle; substring generation is a
    * narrow flatten over the Zipf-bounded histogram; the top-30 is
    * orderBy+limit (per-partition heaps + driver merge — nothing
    * inventory-sized crosses one task). */
  val qUnigramInventory = QueryDef.sql(
    "q_unigram_inventory",
    """WITH w AS (
      |  SELECT wd AS word, count(*) AS freq
      |  FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS wd
      |        FROM documents)
      |  GROUP BY wd),
      |subs AS (
      |  SELECT unnest(flatten([[word[s : s + l - 1]
      |                          for s in range(1, length(word) - l + 2)]
      |                         for l in [2, 3, 4, 5, 6]])) AS piece,
      |         freq
      |  FROM w),
      |scored AS (
      |  SELECT piece,
      |         CAST(sum(freq) AS BIGINT) AS weight,
      |         CAST(sum(freq) * (length(piece) - 1) AS BIGINT) AS score
      |  FROM subs GROUP BY piece)
      |SELECT piece, weight, score
      |FROM scored ORDER BY score DESC, piece LIMIT 30""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val hist = Tables
      .documents(s, d)
      .select(explode(words($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("freq"))
    hist
      .select(
        $"freq",
        explode(
          flatten(
            transform(
              sequence(lit(2), lit(UnigramMaxPieceLen)),
              l =>
                when(
                  length($"word") >= l,
                  transform(
                    sequence(lit(1), length($"word") - l + 1),
                    st => $"word".substr(st, l)))
                  .otherwise(array().cast("array<string>")))))
          .as("piece"))
      .groupBy($"piece")
      .agg(
        sum($"freq").cast("long").as("weight"),
        (sum($"freq") * (length($"piece") - 1)).cast("long").as("score"))
      .orderBy($"score".desc, $"piece")
      .limit(30)
  }

  /** Exact heavy hitters: every token holding ≥ 1/256 of the corpus
    * token mass, with count and share — the φ-frequent-items relation.
    * This exact form is the ORACLE anchor for the SpaceSaving sketch
    * ([[graft.plans.SpaceSavingAgg]], SQL name `space_saving`): the
    * sketch's guarantees (est ≥ true ≥ est−err; every φ-heavy item
    * present at k = 1/φ) are spec-checked against THIS query's output,
    * while the sketch is what a 100 TB monitor actually ships (k triples
    * per partial buffer instead of a vocabulary-wide shuffle).
    *
    * Scale: one map-side-combined wordcount; the total is a broadcast
    * 1-row aggregate; threshold + share are per-row arithmetic. */
  val qHeavyHitters = QueryDef.sql(
    "q_heavy_hitters",
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), ' +')) AS t
      |  FROM documents),
      |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
      |tot AS (SELECT sum(c) AS n FROM cnt)
      |SELECT t AS token, CAST(c AS BIGINT) AS cnt,
      |       round(c * 1.0 / n, 6) AS share
      |FROM cnt, tot
      |WHERE c * 256 >= n
      |ORDER BY cnt DESC, token""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val cnt = Tables
      .documents(s, d)
      .select(explode(words($"text")).as("t"))
      .groupBy($"t")
      .agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum($"c").as("n"))
    cnt
      .crossJoin(broadcast(tot))
      .filter($"c" * 256 >= $"n")
      .select(
        $"t".as("token"),
        $"c".cast("long").as("cnt"),
        round($"c" * lit(1.0) / $"n", 6).as("share"))
      .orderBy($"cnt".desc, $"token")
  }

  /** Flesch reading-ease score (Flesch 1948) per document — the classic
    * readability feature a corpus-quality pipeline computes beside the
    * Gopher rules: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). The fixture text has no sentence
    * punctuation, so sentences are the suite's 10-word pseudo-sentence
    * chunks (documented proxy, as in paragraph dedup); syllables are
    * vowel-group runs with a 1-per-word floor — the standard heuristic.
    * Pure per-row array arithmetic fused into the scan: no join, no
    * shuffle before the output sort. */
  val qReadability = QueryDef.sql(
    "q_readability",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(w) AS nw,
      |         CAST(ceil(len(w) / 10.0) AS BIGINT) AS ns,
      |         CAST(list_sum([greatest(len(regexp_extract_all(x, '[aeiou]+')), 1)
      |                        for x in w]) AS BIGINT) AS syl
      |  FROM t)
      |SELECT doc_id, CAST(nw AS BIGINT) AS n_words, ns AS n_sentences,
      |       syl AS n_syllables,
      |       round(206.835 - 1.015 * (nw * 1.0 / ns)
      |             - 84.6 * (syl * 1.0 / nw), 2) AS flesch,
      |       CASE WHEN round(206.835 - 1.015 * (nw * 1.0 / ns)
      |                       - 84.6 * (syl * 1.0 / nw), 2) >= 60 THEN 'easy'
      |            WHEN round(206.835 - 1.015 * (nw * 1.0 / ns)
      |                       - 84.6 * (syl * 1.0 / nw), 2) >= 30 THEN 'medium'
      |            ELSE 'hard' END AS band
      |FROM m ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val m = Tables
      .documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select(
        $"doc_id",
        size($"w").cast("long").as("nw"),
        ceil(size($"w") / lit(10.0)).cast("long").as("ns"),
        aggregate(
          transform($"w", x =>
            greatest(
              size(regexp_extract_all(x, lit("[aeiou]+"), lit(0))).cast("long"),
              lit(1L))),
          lit(0L), _ + _).as("syl"))
    val flesch = round(
      lit(206.835) - lit(1.015) * ($"nw" * lit(1.0) / $"ns")
        - lit(84.6) * ($"syl" * lit(1.0) / $"nw"), 2)
    m.select(
      $"doc_id", $"nw".as("n_words"), $"ns".as("n_sentences"),
      $"syl".as("n_syllables"), flesch.as("flesch"),
      when(flesch >= 60, "easy")
        .when(flesch >= 30, "medium")
        .otherwise("hard").as("band"))
      .orderBy($"doc_id")
  }

  /** Charset / mojibake audit — the encoding-hygiene screen a web-scale
    * ingest runs before any text operator trusts the bytes: per document,
    * how many characters are printable ASCII (plus tab/LF/CR), how many
    * are C0/DEL control characters (a binary-in-text or truncated-
    * multibyte tell), how many are the U+FFFD replacement character (a
    * decoder already gave up upstream), and the resulting clean verdict.
    * Counts are length-differences after character-class strips, so both
    * engines count codepoints, not bytes. Pure per-row arithmetic fused
    * into the scan's codegen span — no shuffle before the final sort. */
  val qCharsetAudit = QueryDef.sql(
    "q_charset_audit",
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars_measured,
      |       CAST(length(text)
      |            - length(regexp_replace(text, '[\x09\x0a\x0d\x20-\x7e]', '', 'g'))
      |            AS BIGINT) AS n_ascii,
      |       CAST(length(regexp_replace(text,
      |            '[^\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'))
      |            AS BIGINT) AS n_ctrl,
      |       CAST(length(text) - length(replace(text, chr(65533), ''))
      |            AS BIGINT) AS n_repl,
      |       round((length(text)
      |              - length(regexp_replace(text, '[\x09\x0a\x0d\x20-\x7e]', '', 'g')))
      |             * 1.0 / greatest(length(text), 1), 4) AS ascii_share,
      |       (length(regexp_replace(text,
      |            '[^\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')) = 0
      |        AND length(text) = length(replace(text, chr(65533), ''))
      |        AND (length(text)
      |             - length(regexp_replace(text, '[\x09\x0a\x0d\x20-\x7e]', '', 'g')))
      |            * 1.0 / greatest(length(text), 1) >= 0.95) AS clean
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val nAscii = (length($"text") -
      length(regexp_replace($"text", "[\\x09\\x0A\\x0D\\x20-\\x7E]", "")))
      .cast("long")
    val nCtrl = length(regexp_replace($"text",
      "[^\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")).cast("long")
    val nRepl = (length($"text") -
      length(regexp_replace($"text", "\uFFFD", ""))).cast("long")
    val share = round(
      nAscii * lit(1.0) / greatest(length($"text"), lit(1)), 4)
    Tables
      .documents(s, d)
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_measured"),
        nAscii.as("n_ascii"),
        nCtrl.as("n_ctrl"),
        nRepl.as("n_repl"),
        share.as("ascii_share"),
        (nCtrl === 0 && nRepl === 0 &&
          nAscii * lit(1.0) / greatest(length($"text"), lit(1)) >= 0.95)
          .as("clean"))
      .orderBy($"doc_id")
  }

  /** BM25 query terms — fixed for determinism; a production caller
    * parameterizes them. */
  private[graft] val Bm25Terms = Seq("hash", "join", "stream")

  /** BM25 (k1 = 1.2, b = 0.75) over a documents frame: each document's
    * terms `tok` (doc_id, term) and length `dl` (doc_id, dl), and the
    * scoring relation of any postings. */
  private final class Bm25(docs: org.apache.spark.sql.DataFrame) {
    import docs.sparkSession.implicits._
    private val t = docs.select($"doc_id", words($"text").as("w"))
    val dl = t.select($"doc_id", size($"w").cast("double").as("dl"))
    private val st = dl.agg(count(lit(1)).cast("double").as("n"),
      avg($"dl").as("avgdl"))
    val tok = t.select($"doc_id", explode($"w").as("term"))

    /** Term frequencies (doc_id, term, tf) of the [[Bm25Terms]] query. */
    def queryTf: org.apache.spark.sql.DataFrame = tok
      .filter($"term".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).cast("double").as("tf"))

    /** Postings `tf` (doc_id, term, tf, ...) joined with each term's
      * document frequency, the document length and the corpus size N
      * and mean length avgdl — the rows [[score]] reads. The df and
      * corpus rows are broadcast; the length join ships two longs per
      * document. */
    def scored(
        tf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val dfr = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(dfr), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
    }

    /** One term's score on a [[scored]] row:
      * ln(1+(N−df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). */
    val score: org.apache.spark.sql.Column =
      log(lit(1) + ($"n" - $"df" + 0.5) / ($"df" + 0.5)) * $"tf" * 2.2 /
        ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones; k1=1.2, b=0.75) —
    * the lexical search baseline a curation pipeline runs for targeted
    * corpus pulls (and the rerank partner to the ANN queries): top-10
    * documents for a fixed 3-term query, scored
    * Σ_t ln(1+(N−df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    * The rank key is the ROUNDED score (doc_id tiebreak), so a
    * summation-order ulp cannot flip the ordering across engines.
    *
    * Scale (100 TB): the token scan keeps only QUERY-term postings (a
    * broadcast isin filter fused into the scan), so the per-(doc, term)
    * aggregate shuffles a sliver of the corpus; N/avgdl and the per-term
    * dfs are broadcast 1-row / \|terms\|-row relations; the doc-length
    * join ships two longs per document; top-10 lowers to per-partition
    * heaps (TakeOrderedAndProject) + [[CorpusOps.boundedRank]] — no
    * global sort, no corpus-sized window. */
  val qBm25Retrieval = QueryDef.sql(
    "q_bm25_retrieval",
    """WITH q AS (SELECT unnest(['hash', 'join', 'stream']) AS term),
      |t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |      FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tok JOIN q USING (term) GROUP BY 1, 2),
      |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |         sum(ln(1 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
      |             * tf.tf * 2.2
      |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS s,
      |         count(*) AS n_terms
      |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
      |         round(s, 4) AS bm25,
      |         CAST(row_number() OVER (ORDER BY round(s, 4) DESC, doc_id)
      |              AS INT) AS rank
      |  FROM sc)
      |SELECT doc_id, n_terms, bm25, rank FROM ranked
      |WHERE rank <= 10 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bm = new Bm25(Tables.documents(s, d))
    val sc = bm.scored(bm.queryTf)
      .select($"doc_id", bm.score.as("s"))
      .groupBy($"doc_id")
      .agg(round(sum($"s"), 4).as("bm25"),
        count(lit(1)).cast("long").as("n_terms"))
    val top = sc.orderBy($"bm25".desc, $"doc_id").limit(10)
    CorpusOps
      .boundedRank(top, struct((-$"bm25").as("ns"), $"doc_id"), "rank")
      .select($"doc_id", $"n_terms", $"bm25", $"rank")
      .orderBy($"rank")
  }

  /** Reciprocal-rank fusion of lexical and vector retrieval (Cormack,
    * Clarke & Buettcher 2009) — the hybrid-search operator every RAG /
    * curation stack runs: the [[qBm25Retrieval]] lexical top-20 and the
    * cosine top-20 around query vector 0 (doc_id ≡ vec_id in the
    * fixtures) fuse by RRF(d) = Σ_lists 1/(60 + rank_d), absent-from-a-
    * list contributing 0 (rank sentinel 0 — never NULL, so both
    * engines' sorts and the harness's hash agree). Top-10 fused.
    *
    * Scale: each leg is the already-audited retrieval shape (query-term
    * scan filter / broadcast query vector — the corpus is never
    * shuffled); the fusion join runs on two ≤20-row lists. */
  val qRrfFusion = QueryDef.sql(
    "q_rrf_fusion",
    """WITH q AS (SELECT unnest(['hash', 'join', 'stream']) AS term),
      |t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |      FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tok JOIN q USING (term) GROUP BY 1, 2),
      |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |         round(sum(ln(1 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
      |             * tf.tf * 2.2
      |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
      |           AS s
      |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |lex AS (
      |  SELECT doc_id,
      |         CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
      |           AS lex_rnk
      |  FROM sc QUALIFY lex_rnk <= 20),
      |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      |       WHERE vec_id = 0),
      |cs AS (
      |  SELECT e.vec_id AS doc_id,
      |         round(list_cosine_similarity(qv.qv,
      |                 CAST(e.embedding AS DOUBLE[])), 4) AS c
      |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
      |vec AS (
      |  SELECT doc_id,
      |         CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT)
      |           AS vec_rnk
      |  FROM cs QUALIFY vec_rnk <= 20),
      |fused AS (
      |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
      |         coalesce(lex.lex_rnk, 0) AS lex_rnk,
      |         coalesce(vec.vec_rnk, 0) AS vec_rnk,
      |         round(CASE WHEN lex.lex_rnk IS NULL THEN 0
      |                    ELSE 1.0 / (60 + lex.lex_rnk) END
      |               + CASE WHEN vec.vec_rnk IS NULL THEN 0
      |                      ELSE 1.0 / (60 + vec.vec_rnk) END, 6) AS rrf
      |  FROM lex FULL OUTER JOIN vec ON vec.doc_id = lex.doc_id)
      |SELECT doc_id, lex_rnk, vec_rnk, rrf,
      |       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
      |         AS rank
      |FROM fused QUALIFY rank <= 10 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.VectorFunctions.{dot, norm}
    // lexical leg: BM25 over the query terms (scan-filtered postings)
    val bm = new Bm25(Tables.documents(s, d))
    val sc = bm.scored(bm.queryTf)
      .select($"doc_id", bm.score.as("s"))
      .groupBy($"doc_id")
      .agg(round(sum($"s"), 4).as("s"))
    val lexTop = sc.orderBy($"s".desc, $"doc_id").limit(20)
    val lex = CorpusOps
      .boundedRank(lexTop, struct((-$"s").as("ns"), $"doc_id"), "lex_rnk")
      .select($"doc_id", $"lex_rnk".cast("long").as("lex_rnk"))
    // vector leg: cosine around the broadcast query vector
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), norm($"embedding").as("qn"))
    val cs = emb
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qv))
      .select($"vec_id".as("doc_id"),
        round(dot($"embedding", $"qv") / (norm($"embedding") * $"qn"), 4)
          .as("c"))
    val vecTop = cs.orderBy($"c".desc, $"doc_id").limit(20)
    val vec = CorpusOps
      .boundedRank(vecTop, struct((-$"c").as("nc"), $"doc_id"), "vec_rnk")
      .select($"doc_id", $"vec_rnk".cast("long").as("vec_rnk"))
    // materialize the two ≤20-row leg outputs (r15, guide §5
    // localCheckpoint-to-truncate): the fusion feeds boundedRank, which
    // references its input three times — un-checkpointed, each reference
    // replays BOTH corpus legs (the r14 per-boundedRank checkpoint
    // experiment failed because it cut INSIDE the legs and broke their
    // cross-leg exchange reuse; cutting at the 20-row leg OUTPUTS keeps
    // each leg's internal reuse and replays only tiny RDD scans).
    // Matched best-of-10 A/B: 2.57 -> 2.24 / 2.82 -> 1.96 s.
    val (lexF, vecF) = (lex.localCheckpoint(), vec.localCheckpoint())
    // fuse the two ≤20-row lists
    val fused = lexF
      .join(vecF, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        coalesce($"lex_rnk", lit(0L)).as("lex_rnk"),
        coalesce($"vec_rnk", lit(0L)).as("vec_rnk"),
        round(
          when($"lex_rnk".isNull, 0.0)
            .otherwise(lit(1.0) / (lit(60) + $"lex_rnk")) +
          when($"vec_rnk".isNull, 0.0)
            .otherwise(lit(1.0) / (lit(60) + $"vec_rnk")), 6).as("rrf"))
    val top = fused.orderBy($"rrf".desc, $"doc_id").limit(10)
    CorpusOps
      .boundedRank(top, struct((-$"rrf").as("nr"), $"doc_id"), "rank")
      .select($"doc_id", $"lex_rnk", $"vec_rnk", $"rrf", $"rank")
      .orderBy($"rank")
  }

  /** NDCG@10 of the BM25 ranking (Järvelin & Kekäläinen 2002) — the
    * ranking-quality metric beside [[qRrfFusion]]: graded relevance =
    * how many of the three query terms the document contains (0–3, a
    * lexical ground truth independent of the scorer), gain (2^rel−1)/
    * log2(rank+1), ideal DCG from the corpus-wide top-10 relevance
    * ordering (per-partition heaps, not a global sort). Emits the
    * per-rank gain decomposition plus the cumulative DCG/IDCG/NDCG.
    *
    * Scale: relevance is a scan-fused per-doc count over the same
    * query-term postings sliver BM25 aggregates; both top-10s lower to
    * TakeOrderedAndProject. */
  val qNdcg = QueryDef.sql(
    "q_ndcg",
    """WITH q AS (SELECT unnest(['hash', 'join', 'stream']) AS term),
      |t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |      FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tok JOIN q USING (term) GROUP BY 1, 2),
      |rel AS (SELECT doc_id, count(*) AS rel FROM tf GROUP BY doc_id),
      |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |         round(sum(ln(1 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5))
      |             * tf.tf * 2.2
      |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
      |           AS s
      |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT sc.doc_id, rel.rel,
      |         CAST(row_number() OVER (ORDER BY sc.s DESC, sc.doc_id)
      |              AS INT) AS rank
      |  FROM sc JOIN rel USING (doc_id) QUALIFY rank <= 10),
      |ideal AS (
      |  SELECT rel,
      |         CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS INT)
      |           AS irank
      |  FROM rel QUALIFY irank <= 10),
      |idcg AS (
      |  SELECT sum((power(2.0, rel) - 1) / (ln(irank + 1) / ln(2.0)))
      |           AS idcg
      |  FROM ideal),
      |gains AS (
      |  SELECT doc_id, rank, CAST(rel AS BIGINT) AS rel,
      |         (power(2.0, rel) - 1) / (ln(rank + 1) / ln(2.0)) AS gain
      |  FROM ranked)
      |SELECT doc_id, rank, rel, round(gain, 4) AS gain,
      |       round(sum(gain) OVER (ORDER BY rank
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             / idcg.idcg, 4) AS ndcg_at_rank
      |FROM gains CROSS JOIN idcg ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bm = new Bm25(Tables.documents(s, d))
    val tf = bm.queryTf
    val rel = tf.groupBy($"doc_id").agg(count(lit(1)).as("rel"))
    val sc = bm.scored(tf)
      .select($"doc_id", bm.score.as("s"))
      .groupBy($"doc_id")
      .agg(round(sum($"s"), 4).as("s"))
    val rankedTop = sc.join(rel, "doc_id")
      .orderBy($"s".desc, $"doc_id").limit(10)
    val ranked = CorpusOps
      .boundedRank(rankedTop, struct((-$"s").as("ns"), $"doc_id"), "rank")
    val idealTop = rel.orderBy($"rel".desc, $"doc_id").limit(10)
    val idcg = CorpusOps
      .boundedRank(idealTop, struct((-$"rel").as("nr"), $"doc_id"), "irank")
      .agg(sum((pow(lit(2.0), $"rel") - 1) /
        (log($"irank" + 1) / math.log(2.0))).as("idcg"))
    val gains = ranked.select($"doc_id", $"rank",
      $"rel".cast("long").as("rel"),
      ((pow(lit(2.0), $"rel") - 1) /
        (log($"rank" + 1) / math.log(2.0))).as("gain"))
    // the cumulative window runs on 10 rows, but the registry-wide
    // no-global-window guard covers every query — key it on the
    // single-valued idcg column so the partitionSpec is non-empty
    gains
      .crossJoin(broadcast(idcg))
      .select($"doc_id", $"rank", $"rel", round($"gain", 4).as("gain"),
        round(sum($"gain").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"idcg").orderBy($"rank")
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow))
          / $"idcg", 4).as("ndcg_at_rank"))
      .orderBy($"rank")
  }

  /** Heaps'-law vocabulary growth fit (Heaps 1978): V(n) ≈ K·n^β,
    * measured at the 10 corpus-prefix deciles and fit by OLS on the
    * log-log points. The distributed trick: a prefix's vocabulary size
    * needs no per-prefix distinct pass — every word carries its FIRST
    * document of occurrence (one min-aggregate), and V(prefix ≤ x) is
    * just a count of words with first-doc < x; token totals threshold
    * the same way. One corpus shuffle total; the fit runs on 10 points.
    * β ≈ 0.4–0.6 is natural text; β near 1 means the corpus never
    * re-uses vocabulary (e.g. serial numbers); β near 0 is a closed
    * vocabulary — the curation read on tokenizer-vocab sizing.
    *
    * Scale: the (word → first-doc) aggregate is the one vocab-sized
    * shuffle; deciles broadcast; everything else is aggregate-sized. */
  val qHeapsLaw = QueryDef.sql(
    "q_heaps_law",
    """WITH nd AS (SELECT max(doc_id) + 1 AS d FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
      |  FROM documents),
      |firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
      |dtok AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
      |qs AS (SELECT unnest(generate_series(1, 10)) AS decile),
      |pts AS (
      |  SELECT qs.decile,
      |         (SELECT sum(nt) FROM dtok
      |          WHERE doc_id < qs.decile * nd.d / 10) AS n_tokens,
      |         (SELECT count(*) FROM firsts
      |          WHERE fd < qs.decile * nd.d / 10) AS vocab
      |  FROM qs CROSS JOIN nd),
      |fit AS (
      |  SELECT (count(*) * sum(ln(n_tokens) * ln(vocab))
      |            - sum(ln(n_tokens)) * sum(ln(vocab)))
      |         / (count(*) * sum(ln(n_tokens) * ln(n_tokens))
      |            - sum(ln(n_tokens)) * sum(ln(n_tokens))) AS beta,
      |         avg(ln(vocab)) AS my, avg(ln(n_tokens)) AS mx
      |  FROM pts)
      |SELECT CAST(pts.decile AS INT) AS decile,
      |       CAST(pts.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(pts.vocab AS BIGINT) AS vocab,
      |       round(fit.beta, 4) + 0.0 AS beta,
      |       round(exp(fit.my - fit.beta * fit.mx), 4) + 0.0 AS k_coef
      |FROM pts CROSS JOIN fit ORDER BY decile""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val nd = docs.agg((max($"doc_id") + 1).as("d"))
    val tok = docs.select($"doc_id", explode(words($"text")).as("w"))
    val firsts = tok.groupBy($"w").agg(min($"doc_id").as("fd"))
    val dtok = tok.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
    val qs = s.range(1, 11).select($"id".as("decile"))
      .crossJoin(broadcast(nd))
      .select($"decile", ($"decile" * $"d" / 10).as("cut"))
    // threshold both per-doc/per-word aggregates against the BROADCAST
    // 10-row decile cuts (the big side streams; ≤ 10 output rows per
    // input row feed a partial aggregate — never broadcast the
    // doc-count- or vocab-sized relation)
    val pts = dtok
      .join(broadcast(qs), $"doc_id" < $"cut")
      .groupBy($"decile").agg(sum($"nt").as("n_tokens"))
      .join(
        firsts.join(broadcast(qs.select($"decile".as("d2"), $"cut")),
          $"fd" < $"cut")
          .groupBy($"d2").agg(count(lit(1)).as("vocab")),
        $"d2" === $"decile")
      .select($"decile", $"n_tokens", $"vocab")
      .localCheckpoint() // 10 rows; reused by the fit and the output
    val fit = pts.agg(
      ((count(lit(1)) * sum(log($"n_tokens") * log($"vocab"))
        - sum(log($"n_tokens")) * sum(log($"vocab")))
        / (count(lit(1)) * sum(log($"n_tokens") * log($"n_tokens"))
          - sum(log($"n_tokens")) * sum(log($"n_tokens")))).as("beta"),
      avg(log($"vocab")).as("my"), avg(log($"n_tokens")).as("mx"))
    pts
      .crossJoin(broadcast(fit))
      .select($"decile".cast("int").as("decile"),
        $"n_tokens".cast("long").as("n_tokens"),
        $"vocab".cast("long").as("vocab"),
        (round($"beta", 4) + 0.0).as("beta"),
        (round(exp($"my" - $"beta" * $"mx"), 4) + 0.0).as("k_coef"))
      .orderBy($"decile")
  }

  /** Hill tail-index estimator (Hill 1975) over the token frequency
    * distribution — the heavy-tail partner of [[qZipfFit]]'s rank-
    * frequency regression: for the top k = 100 frequencies f₁ ≥ … ≥
    * f_k, H = mean ln(f_i/f_k) over i < k and tail index α = 1/H
    * (α ≈ 1/zipf-slope for a true power law; divergence between the
    * two fits flags a bent tail). One row beside the Zipf report.
    *
    * Scale: the wordcount is the corpus shuffle (shared shape with
    * every token aggregate); top-100 lowers to per-partition heaps;
    * the estimator is an aggregate of 100 rows. */
  val qHillTail = QueryDef.sql(
    "q_hill_tail",
    """WITH wc AS (
      |  SELECT w, CAST(count(*) AS DOUBLE) AS f FROM (
      |    SELECT unnest(string_split_regex(trim(text), ' +')) AS w
      |    FROM documents)
      |  GROUP BY w),
      |topk AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rnk
      |  FROM wc QUALIFY rnk <= 100),
      |fk AS (SELECT f AS fmin, rnk AS kmax FROM topk
      |       WHERE rnk = (SELECT max(rnk) FROM topk))
      |SELECT CAST(count(*) AS BIGINT) AS k,
      |       CAST(any_value(fk.fmin) AS BIGINT) AS f_k,
      |       round(avg(ln(topk.f / fk.fmin)), 4) AS hill_h,
      |       CASE WHEN avg(ln(topk.f / fk.fmin)) = 0 THEN 0.0
      |            ELSE round(1.0 / avg(ln(topk.f / fk.fmin)), 4)
      |       END AS alpha
      |FROM topk CROSS JOIN fk WHERE topk.rnk < fk.kmax""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val wc = Tables.documents(s, d)
      .select(explode(words($"text")).as("w"))
      .groupBy($"w")
      .agg(count(lit(1)).cast("double").as("f"))
    val top = wc.orderBy($"f".desc, $"w").limit(100)
    val ranked = CorpusOps
      .boundedRank(top, struct((-$"f").as("nf"), $"w"), "rnk")
    // adaptive k: a corpus with vocab < 100 uses its last rank as f_k
    val fk = ranked
      .orderBy($"rnk".desc).limit(1)
      .select($"f".as("fmin"), $"rnk".as("kmax"))
    ranked
      .crossJoin(broadcast(fk))
      .filter($"rnk" < $"kmax")
      .agg(count(lit(1)).cast("long").as("k"),
        first($"fmin").cast("long").as("f_k"),
        round(avg(log($"f" / $"fmin")), 4).as("hill_h"),
        // degenerate tail (all top-k frequencies tied — e.g. a corpus of
        // replicas) has H = 0: alpha undefined, 0.0 sentinel — found by
        // the 100x scale probe, where each replica clones the top word
        when(avg(log($"f" / $"fmin")) === 0, 0.0)
          .otherwise(round(lit(1.0) / avg(log($"f" / $"fmin")), 4))
          .as("alpha"))
  }

  /** Skip-gram windowed co-occurrence (the word2vec training-pair
    * extraction, Mikolov et al. 2013): for every token, its forward
    * neighbors at distance 1–2, counted corpus-wide with the
    * distance-discounted weight Σ 1/d (the GloVe convention) — the
    * relation an embedding trainer or PMI-over-windows stage consumes
    * (vs [[qPmiCollocations]]' adjacent-only pairs). Top 15 pairs by
    * weight, (a, b) tie-break.
    *
    * Scale: posexplode + a per-doc self-join banded on position
    * (equi on doc, range on distance ≤ 2) — output ≤ 2 rows per token,
    * the same linear blow-up shape as the shingle exchange; the count
    * aggregate is vocabulary²-bounded (Zipf-sparse in practice). */
  val qSkipgramCooc = QueryDef.sql(
    "q_skipgram_cooc",
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |           FROM documents),
      |pos AS (
      |  SELECT doc_id, i - 1 AS p, w[i] AS tok
      |  FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
      |pairs AS (
      |  SELECT a.tok AS wa, b.tok AS wb, b.p - a.p AS d
      |  FROM pos a JOIN pos b
      |    ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 2),
      |agg AS (
      |  SELECT wa, wb, count(*) AS n,
      |         round(sum(1.0 / d), 1) AS weight
      |  FROM pairs GROUP BY wa, wb)
      |SELECT wa, wb, CAST(n AS BIGINT) AS n, weight,
      |       CAST(row_number() OVER (ORDER BY weight DESC, wa, wb)
      |            AS INT) AS rank
      |FROM agg QUALIFY rank <= 15 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val pos = Tables.documents(s, d)
      .select($"doc_id", posexplode(words($"text")).as(Seq("p", "tok")))
    val b = pos.select($"doc_id".as("db"), $"p".as("pb"),
      $"tok".as("wb"))
    val agg = pos
      .join(b, $"db" === $"doc_id" && $"pb" > $"p" && $"pb" <= $"p" + 2)
      .groupBy($"tok".as("wa"), $"wb")
      .agg(count(lit(1)).as("n"),
        round(sum(lit(1.0) / ($"pb" - $"p")), 1).as("weight"))
    val top = agg.orderBy($"weight".desc, $"wa", $"wb").limit(15)
    CorpusOps
      .boundedRank(top, struct((-$"weight").as("nw"), $"wa", $"wb"), "rank")
      .select($"wa", $"wb", $"n".cast("long").as("n"), $"weight", $"rank")
      .orderBy($"rank")
  }

  /** Pseudo-relevance feedback retrieval (RM3-style, Lavrenko & Croft
    * 2001; Abdul-Jaleel et al. 2004) — the two-stage retrieval loop
    * completing the family (BM25 → [[qRrfFusion]] → [[qNdcg]] → PRF):
    * stage 1 runs BM25 for the base query; the top-10 docs vote
    * expansion terms by length-normalized tf (top 5, base terms
    * excluded); stage 2 re-scores with base terms at weight 1.0 and
    * expansion terms at 0.4. Emits the final top-10 with a flag for
    * docs the expansion newly surfaced — the measured value of PRF.
    *
    * Scale: two passes of the audited BM25 shape (query-term scan
    * filter, broadcast stats); the feedback vote runs on 10 docs'
    * tokens; the stage-2 term set is 8 broadcast terms. */
  val qBm25Prf = QueryDef.sql(
    "q_bm25_prf",
    """WITH q AS (SELECT unnest(['hash', 'join', 'stream']) AS term),
      |t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |      FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM t),
      |tf1 AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |        FROM tok JOIN q USING (term) GROUP BY 1, 2),
      |df1 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf1 GROUP BY 1),
      |s1 AS (
      |  SELECT tf1.doc_id,
      |         round(sum(ln(1 + (st.n - df1.df + 0.5) / (df1.df + 0.5))
      |             * tf1.tf * 2.2
      |             / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
      |           AS s
      |  FROM tf1 JOIN df1 USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |top1 AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      |    FROM s1) WHERE r <= 10),
      |fb AS (
      |  SELECT tok.term, sum(1.0 / dl.dl) AS vote
      |  FROM tok JOIN top1 USING (doc_id) JOIN dl USING (doc_id)
      |  WHERE tok.term NOT IN (SELECT term FROM q)
      |  GROUP BY tok.term),
      |exp5 AS (
      |  SELECT term FROM (
      |    SELECT term,
      |           row_number() OVER (ORDER BY round(vote, 6) DESC, term) AS r
      |    FROM fb) WHERE r <= 5),
      |q2 AS (
      |  SELECT term, 1.0 AS wq FROM q
      |  UNION ALL SELECT term, 0.4 FROM exp5),
      |tf2 AS (SELECT tok.doc_id, tok.term, CAST(count(*) AS DOUBLE) AS tf
      |        FROM tok JOIN q2 USING (term) GROUP BY 1, 2),
      |df2 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf2 GROUP BY 1),
      |s2 AS (
      |  SELECT tf2.doc_id,
      |         round(sum(q2.wq
      |             * ln(1 + (st.n - df2.df + 0.5) / (df2.df + 0.5))
      |             * tf2.tf * 2.2
      |             / (tf2.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
      |           AS s
      |  FROM tf2 JOIN df2 USING (term) JOIN q2 USING (term)
      |  JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1)
      |SELECT s2.doc_id, s2.s AS bm25_prf,
      |       CAST(row_number() OVER (ORDER BY s2.s DESC, s2.doc_id) AS INT)
      |         AS rank,
      |       (top1.doc_id IS NOT NULL) AS in_stage1
      |FROM s2 LEFT JOIN top1 ON top1.doc_id = s2.doc_id
      |QUALIFY rank <= 10 ORDER BY rank""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bm = new Bm25(Tables.documents(s, d))
    val (tok, dl) = (bm.tok, bm.dl)
    def bm25(tf: org.apache.spark.sql.DataFrame,
        weighted: Boolean): org.apache.spark.sql.DataFrame =
      bm.scored(tf)
        .select($"doc_id",
          (if (weighted) $"wq" * bm.score else bm.score).as("c"))
        .groupBy($"doc_id")
        .agg(round(sum($"c"), 4).as("s"))
    val top1 = bm25(bm.queryTf, weighted = false)
      .orderBy($"s".desc, $"doc_id").limit(10)
      .select($"doc_id")
      .localCheckpoint() // 10 rows; feeds the vote + the stage-1 flag
    val fb = tok
      .join(broadcast(top1), "doc_id")
      .filter(!$"term".isin(Bm25Terms: _*))
      .join(dl, "doc_id")
      .groupBy($"term")
      .agg(sum(lit(1.0) / $"dl").as("vote"))
    val exp5 = fb.orderBy(round($"vote", 6).desc, $"term").limit(5)
      .select($"term")
    val q2 = s.createDataFrame(Bm25Terms.map((_, 1.0)))
      .toDF("term", "wq")
      .unionAll(exp5.select($"term", lit(0.4).as("wq")))
      .coalesce(1).localCheckpoint() // 8 terms; the stage-2 query
    val tf2 = tok
      .join(broadcast(q2.select($"term")), "term")
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(broadcast(q2), "term")
    val s2 = bm25(tf2, weighted = true)
    val top2 = s2.orderBy($"s".desc, $"doc_id").limit(10)
    CorpusOps
      .boundedRank(top2, struct((-$"s").as("ns"), $"doc_id"), "rank")
      .join(top1.select($"doc_id", lit(true).as("hit")), Seq("doc_id"),
        "left")
      .select($"doc_id", $"s".as("bm25_prf"), $"rank",
        coalesce($"hit", lit(false)).as("in_stage1"))
      .orderBy($"rank")
  }

  /** Span-corruption planning (T5/UL2 denoising objective, Raffel et al.
    * 2020): deterministically mark ~15% of each document's tokens as
    * corruption spans (mean length 3) for masked-span pretraining. The
    * token stream is cut into 20-token blocks; each (doc, block) draws a
    * hash-derived span start in [0, 17), and the 3 positions from it are
    * the span — non-overlapping BY CONSTRUCTION (one span per block), no
    * sequential scan over the document, so every block decides its span
    * in parallel. Emits the per-doc corruption census a packing stage
    * consumes (token/span/corrupted counts, realized rate).
    *
    * Scale: one narrow posexplode + a per-doc aggregate — the span
    * decisions are pure hash arithmetic inside the scan; nothing about a
    * document is sequential, which is exactly why the blocked variant
    * (vs the paper's sequential Poisson spans) is the 100 TB shape. */
  val qSpanCorruption = QueryDef.sql(
    "q_span_corruption",
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
      |           FROM documents),
      |pos AS (
      |  SELECT doc_id, CAST(unnest(range(len(w))) AS BIGINT) AS pos
      |  FROM t),
      |marked AS (
      |  SELECT doc_id, pos, pos // 20 AS block,
      |         pos % 20 AS off,
      |         CAST(concat('0x', substr(md5('sc|' || CAST(doc_id AS VARCHAR)
      |              || '|' || CAST(pos // 20 AS VARCHAR)), 1, 15)) AS BIGINT)
      |           % 17 AS start
      |  FROM pos)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN off >= start AND off < start + 3
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted,
      |       CAST(count(DISTINCT CASE WHEN off >= start AND off < start + 3
      |                                THEN block END) AS BIGINT) AS n_spans,
      |       round(sum(CASE WHEN off >= start AND off < start + 3
      |                      THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
      |         AS corrupt_rate
      |FROM marked GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val marked = Tables
      .documents(s, d)
      .select($"doc_id", posexplode(words($"text")).as(Seq("pos", "tok")))
      .select($"doc_id", $"pos".cast("long").as("pos"))
      .withColumn("block", expr("pos div 20"))
      .withColumn("off", $"pos" % 20)
      .withColumn("start",
        stableHash60(concat(lit("sc|"), $"doc_id".cast("string"),
          lit("|"), $"block".cast("string"))) % 17)
    val hit = $"off" >= $"start" && $"off" < $"start" + 3
    marked
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(hit, 1L).otherwise(0L)).as("n_corrupted"),
        countDistinct(when(hit, $"block")).as("n_spans"),
        round(sum(when(hit, 1L).otherwise(0L)) * lit(1.0) /
          count(lit(1)), 4).as("corrupt_rate"))
      .orderBy($"doc_id")
  }

  /** Classifier evaluation metrics — per-class precision/recall/F1 of
    * the language-ID heuristic against the fixture's true labels,
    * derived from the same confusion cells `q_text_langid` emits (tp =
    * diagonal, precision over the predicted column, recall over the
    * true row; F1 on the ROUNDED components per the flag convention).
    * The evaluation-harness op every curation classifier needs beside
    * its scores.
    *
    * Scale: the per-doc scoring is the scan-fused langid arithmetic;
    * the metrics run on the O(classes²) confusion relation. */
  val qLangidMetrics = QueryDef.sql(
    "q_langid_metrics", {
      val scoresSql = langStops
        .map { case (l, ws) =>
          s"len(list_intersect(list_distinct(string_split_regex(trim(text), ' +')), [${ws
              .map("'" + _ + "'").mkString(",")}])) AS s_$l"
        }
        .mkString(",\n         ")
      s"""WITH scored AS (
         |  SELECT lang,
         |         $scoresSql
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |         CASE WHEN s_en = 0 AND s_fr = 0 AND s_es = 0 AND s_de = 0 THEN 'unknown'
         |              WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
         |              WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
         |              WHEN s_es >= s_de THEN 'es'
         |              ELSE 'de' END AS predicted
         |  FROM scored),
         |cells AS (SELECT lang, predicted, count(*) AS n
         |          FROM pred GROUP BY 1, 2),
         |classes AS (SELECT DISTINCT lang AS c FROM cells),
         |m AS (
         |  SELECT c,
         |         coalesce((SELECT sum(n) FROM cells
         |                   WHERE lang = c AND predicted = c), 0) AS tp,
         |         coalesce((SELECT sum(n) FROM cells WHERE lang = c), 0) AS trues,
         |         coalesce((SELECT sum(n) FROM cells WHERE predicted = c), 0)
         |           AS preds
         |  FROM classes)
         |SELECT c AS lang,
         |       CAST(trues AS BIGINT) AS n_true,
         |       CAST(tp AS BIGINT) AS tp,
         |       round(tp * 1.0 / greatest(preds, 1), 4) AS precision,
         |       round(tp * 1.0 / greatest(trues, 1), 4) AS recall,
         |       round(2.0 * tp / greatest(preds + trues, 1), 4) AS f1
         |FROM m ORDER BY lang""".stripMargin
    }
  ) { (s, d) =>
    import s.implicits._
    val distinctW = array_distinct(words($"text"))
    val scores = langStops.map { case (l, ws) =>
      l -> size(array_intersect(distinctW, array(ws.map(lit): _*)))
    }
    val m = scores.toMap
    val predicted = when(
      m("en") === 0 && m("fr") === 0 && m("es") === 0 && m("de") === 0,
      "unknown")
      .when(m("en") >= m("fr") && m("en") >= m("es") && m("en") >= m("de"), "en")
      .when(m("fr") >= m("es") && m("fr") >= m("de"), "fr")
      .when(m("es") >= m("de"), "es")
      .otherwise("de")
    val cells = Tables.documents(s, d)
      .select($"lang", predicted.as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // O(classes²); reused by three rollups
    val classes = cells.select($"lang".as("c")).distinct()
    val tp = cells.filter($"lang" === $"predicted")
      .select($"lang".as("c"), $"n".as("tp"))
    val trues = cells.groupBy($"lang".as("c")).agg(sum($"n").as("trues"))
    val preds = cells.groupBy($"predicted".as("c")).agg(sum($"n").as("preds"))
    classes
      .join(tp, Seq("c"), "left")
      .join(trues, Seq("c"), "left")
      .join(preds, Seq("c"), "left")
      .select($"c".as("lang"),
        coalesce($"trues", lit(0L)).cast("long").as("n_true"),
        coalesce($"tp", lit(0L)).cast("long").as("tp"),
        round(coalesce($"tp", lit(0L)) * lit(1.0) /
          greatest(coalesce($"preds", lit(0L)), lit(1L)), 4).as("precision"),
        round(coalesce($"tp", lit(0L)) * lit(1.0) /
          greatest(coalesce($"trues", lit(0L)), lit(1L)), 4).as("recall"),
        round(lit(2.0) * coalesce($"tp", lit(0L)) /
          greatest(coalesce($"preds", lit(0L)) + coalesce($"trues", lit(0L)),
            lit(1L)), 4).as("f1"))
      .orderBy($"lang")
  }

  def defs: Seq[QueryDef] =
    Seq(qTextStats, qTextQuality, qTextLangid, qFingerprint, qTokenHistogram,
      qTokenize, qPackSequences, qPackEfficiency, qBatchPadding,
      qWinnowFingerprint, qWinnowPairs, qBigramLm, qRagChunks, qPiiScrub, qBpeMergeStep,
      qTokenEntropy, qZipfFit, qPmiCollocations, qTokenizerFertility,
      qTextNormalize, qUnigramInventory, qHeavyHitters, qReadability,
      qCharsetAudit, qBm25Retrieval, qRrfFusion, qNdcg, qHeapsLaw,
      qHillTail, qSkipgramCooc, qBm25Prf, qSpanCorruption, qLangidMetrics)
}

package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column handling (north-star): opaque `binary` payloads with
  * typed metadata, chunked transfer, and partition-local feature
  * extraction.
  *
  * The reference streams objects as fixed-size chunks
  * (/root/reference/worker/src/h2_service.rs:89-126, 128-byte demo chunks;
  * /root/reference/common/src/settings/local_kv_options.rs:24, 128 KiB
  * configured) and reassembles on the client
  * (/root/reference/client/src/main.rs:92-94). Here that becomes: binary
  * column → posexploded chunk rows → order-preserving reassembly — all
  * inside Spark expressions, no driver round-trip.
  *
  * Real image/audio decode libraries are absent from this container, so
  * [[MultimodalExtract]] stubs the decode behind a deterministic fake
  * while keeping the Spark-side plumbing (schema, batching, partition
  * mapping) real and tested.
  */
object Multimodal {
  val ChunkSize = 128 // bytes — the reference's demo chunk size

  /** Chunk → reassemble round-trip: encode text to binary, split into
    * 128-byte chunks (chunk rows, as a streaming transfer would produce),
    * reassemble in chunk order, and emit the md5 of the rebuilt payload.
    * The oracle computes md5(text) directly — equal digests prove the
    * chunk plumbing is lossless and order-correct. */
  val qBinaryRoundtrip = QueryDef.sql(
    "q_binary_chunk_roundtrip",
    """SELECT doc_id, md5(text) AS digest
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val bin = encode($"text", "UTF-8")
    val nChunks = ceil(length(bin) / lit(ChunkSize.toDouble)).cast("int")
    val chunks = Tables
      .documents(s, d)
      .select(
        $"doc_id",
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            i => bin.substr(i * ChunkSize + 1, lit(ChunkSize))))
          .as(Seq("chunk_id", "chunk")))
    // reassemble: collect chunks per doc, sort by chunk_id, binary-concat
    chunks
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"chunk_id", $"chunk"))).as("parts"))
      .select(
        $"doc_id",
        md5(
          aggregate(
            transform($"parts", p => p.getField("chunk")),
            lit(Array.emptyByteArray),
            (acc, c) => concat(acc, c))).as("digest"))
      .orderBy($"doc_id")
  }

  /** Typed multimodal record after "decode". Features ride as an exact
    * integer vector stringified to CSV — list-typed result columns crash
    * the harness's pandas compare, and integer frame sums (unlike float
    * means) round-trip identically through every engine. */
  case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      n_frames: Int,
      checksum: Long,
      features_csv: String)

  /** Partition-local feature extraction over binary payloads via
    * mapPartitions (the Scala analog of mapInPandas batch UDFs): each
    * partition iterates its rows once, "decodes" the payload, and emits a
    * fixed-width feature row.
    *
    * STUB: the frame-sum "decode" stands in for a real image/audio decoder
    * (libs not in this container) — deterministic so the DuckDB oracle can
    * recompute it from the source text. The schema, batch iteration, and
    * partitioning are the real scale path. */
  val qMediaFeatures = QueryDef.sql(
    "q_media_features",
    """SELECT doc_id,
      |       CAST(n_chars AS INT) AS n_bytes,
      |       CAST((n_chars + 31) // 32 AS INT) AS n_frames,
      |       CAST(COALESCE(list_sum([(ord(text[i:i]) * i) % 1000000007
      |                      for i in range(1, CAST(n_chars AS INT) + 1)]), 0)
      |            % 1000000007 AS BIGINT) AS checksum,
      |       COALESCE(list_aggregate(
      |         [CAST(list_sum([ord(ch)
      |                         for ch in str_split(substr(text, f * 32 + 1, 32), '')])
      |               AS VARCHAR)
      |          for f in range(0, CAST(least((n_chars + 31) // 32, 8) AS INT))],
      |         'string_agg', ','), '') AS features_csv
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val frame = 32 // pretend frame size in bytes (frame-sampling analog)
    Tables
      .documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val nFrames = (bytes.length + frame - 1) / frame
          // deterministic fake decode: per-frame byte-sum feature vector
          val feats = Array.tabulate(nFrames.min(8)) { f =>
            bytes.slice(f * frame, (f + 1) * frame).map(_ & 0xff).sum.toLong
          }
          // positional polynomial checksum, SQL-expressible; per-term mod
          // keeps the running Long sum exact until ~9e9 bytes/payload
          // ((Σaᵢ) mod P ≡ (Σ(aᵢ mod P)) mod P, and DuckDB's HUGEINT side
          // is exact regardless)
          val checksum = bytes.zipWithIndex
            .map { case (b, i) => (b & 0xff).toLong * (i + 1) % 1000000007L }
            .sum % 1000000007L
          MediaFeatures(id, bytes.length, nFrames, checksum, feats.mkString(","))
        }
      }
      .toDF()
      .select($"doc_id", $"n_bytes", $"n_frames", $"checksum", $"features_csv")
      .orderBy($"doc_id")
  }

  /** Frame sampling: treat the payload as fixed 32-byte frames, keep
    * every 3rd frame, digest the sampled stream. The documents are
    * ASCII, so byte frames == char frames and DuckDB can replicate the
    * exact sampling with substr arithmetic — the frame-selection
    * plumbing (offsets, stride, tail handling) is oracle-checked. */
  val qFrameSample = QueryDef.sql(
    "q_media_frame_sample",
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |         (n_chars + 31) // 32 AS n_frames,
      |         list_aggregate(
      |           [substr(text, CAST(i * 32 + 1 AS INT), 32)
      |            for i in range(0, CAST((n_chars + 31) // 32 AS INT))
      |            if i % 3 = 0],
      |           'string_agg', '') AS sampled
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(n_frames AS INT)                          AS n_frames,
      |       CAST((n_frames + 2) // 3 AS INT)               AS n_sampled,
      |       md5(sampled)                                   AS sample_digest
      |FROM f
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val nFrames = ceil(length($"text") / lit(32.0)).cast("int")
    Tables
      .documents(s, d)
      .withColumn("n_frames", nFrames)
      .withColumn(
        "sampled",
        array_join(
          transform(
            filter(sequence(lit(0), $"n_frames" - 1), i => i % 3 === 0),
            i => $"text".substr(i * 32 + 1, lit(32))),
          ""))
      .select($"doc_id", $"n_frames",
        (($"n_frames" + 2) / 3).cast("int").as("n_sampled"),
        md5($"sampled").as("sample_digest"))
      .orderBy($"doc_id")
  }

  /** Typed media metadata: binary payload + a metadata struct (format,
    * byte count, frame count), filtered and projected by nested field —
    * the "opaque binary with typed metadata" column pattern. */
  val qMediaMeta = QueryDef.sql(
    "q_media_meta",
    """WITH m AS (
      |  SELECT doc_id,
      |         struct_pack(
      |           format := CASE doc_id % 3 WHEN 0 THEN 'png'
      |                     WHEN 1 THEN 'wav' ELSE 'mp4' END,
      |           n_bytes := n_chars,
      |           n_frames := (n_chars + 31) // 32) AS meta
      |  FROM documents)
      |SELECT doc_id, m.meta.format AS format,
      |       CAST(m.meta.n_bytes AS BIGINT)  AS n_bytes,
      |       CAST(m.meta.n_frames AS BIGINT) AS n_frames
      |FROM m
      |WHERE m.meta.format <> 'mp4' AND m.meta.n_frames > 10
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .select(
        $"doc_id",
        struct(
          when($"doc_id" % 3 === 0, "png")
            .when($"doc_id" % 3 === 1, "wav")
            .otherwise("mp4").as("format"),
          $"n_chars".as("n_bytes"),
          floor(($"n_chars" + 31) / 32).cast("long").as("n_frames"))
          .as("meta"))
      .filter($"meta.format" =!= "mp4" && $"meta.n_frames" > 10)
      .select($"doc_id", $"meta.format".as("format"),
        $"meta.n_bytes".as("n_bytes"), $"meta.n_frames".as("n_frames"))
      .orderBy($"doc_id")
  }

  /** Resize stub: partition-local "downsample" keeping every 4th byte —
    * the mapPartitions plumbing for a real resize kernel (schema in/out,
    * byte budget shrink), decoder stubbed per the container limits. The
    * resized payload leaves the kernel as bytes; the query emits its md5
    * so DuckDB (which can rebuild the same every-4th-char string from the
    * ASCII source text) hash-checks the whole kernel path. */
  val qMediaResize = QueryDef.sql(
    "q_media_resize",
    """SELECT doc_id,
      |       CAST(n_chars AS INT) AS orig_bytes,
      |       CAST((n_chars + 3) // 4 AS INT) AS resized_bytes,
      |       md5(COALESCE(list_aggregate(
      |         [text[i:i] for i in range(1, CAST(n_chars AS INT) + 1)
      |          if (i - 1) % 4 = 0],
      |         'string_agg', ''), '')) AS resized_digest
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables
      .documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val resized = bytes.grouped(4).map(_.head).toArray // stub kernel
          (id, bytes.length, resized.length, resized)
        }
      }
      .toDF("doc_id", "orig_bytes", "resized_bytes", "resized")
      .select($"doc_id", $"orig_bytes", $"resized_bytes",
        md5($"resized").as("resized_digest"))
      .orderBy($"doc_id")
  }

  /** Perceptual-hash (average-hash) near-duplicate detection over the
    * media payloads — the image-dedup pass of a multimodal pipeline
    * (aHash: resize to a fixed grid, threshold each cell against the
    * global mean, compare 64-bit codes by Hamming distance; the
    * classical pHash family's simplest member). The "decode + resize"
    * is the container's deterministic stub (payload bytes → 64
    * equal-span segment sums — the same fake-pixel convention as
    * [[qMediaFeatures]]); everything downstream — code packing, banded
    * candidate generation, Hamming verification — is the real
    * production dataflow.
    *
    * Scale: codes are 8 bytes/object; candidates come from an EQUI-join
    * on any of four 16-bit bands (pairs differing in ≤ 10 of 64 bits
    * almost always agree on one band), so the corpus is never
    * all-paired; the verify is xor+bit_count on the join output. The
    * same shape as [[graft.operators.Similarity]]'s LSH, specialized to
    * Hamming space. */
  /** Dial-parameterized pHash near-dup query builder — the CODE LENGTH
    * is the production scaling knob (SCALE.md): band-bucket occupancy is
    * n/2^bandBits, so the 64-bit code's 4×16-bit bands degrade to
    * ~n²/2¹⁶ candidates at 5M+ codes while a 256-bit code's 4×64-bit
    * bands keep the banded join ~linear at any realistic corpus. The
    * banded-join PLAN is identical at every dial; only the segment
    * count, the per-band bit width, and the proportional Hamming radius
    * change. Per-bit weights are embedded as precomputed Long literals
    * in BOTH engine texts (bit 63 = Long.MinValue — DuckDB's BIGINT
    * `<<` refuses 1<<63, and a two's-complement constant is engine-
    * neutral); xor/bit_count are sign-agnostic so the negative top-bit
    * value never distorts a distance. */
  private def phashQuery(name: String, segs: Int, bands: Int,
      radius: Int): QueryDef = {
    require(segs % bands == 0)
    val bandBits = segs / bands
    require(bandBits <= 64)
    def bitVal(j: Int): Long = 1L << j // j = 63 wraps to Long.MinValue
    QueryDef.sql(
      name, {
        val bandsSql = (0 until bands)
          .map { b =>
            val terms = (0 until bandBits)
              .map(j => s"(CASE WHEN p[${bandBits * b + j + 1}] > mean " +
                s"THEN ${bitVal(j)} ELSE 0 END)")
              .mkString(" + ")
            s"($terms) AS b$b"
          }
          .mkString(",\n       ")
        // DuckDB's bit_count returns TINYINT; with 64-bit bands two
        // terms can sum past 127 — cast each term before adding
        val ham = (0 until bands)
          .map(b => s"CAST(bit_count(xor(a.b$b, b.b$b)) AS BIGINT)")
          .mkString(" + ")
        val anyBand = (0 until bands)
          .map(b => s"a.b$b = b.b$b")
          .mkString(" OR ")
        s"""WITH px AS (
           |  SELECT doc_id,
           |         [COALESCE(list_sum([ord(text[j:j])
           |            for j in range(CAST(i * len(text) // $segs AS INT) + 1,
           |                           CAST((i + 1) * len(text) // $segs AS INT) + 1)]), 0)
           |          for i in range(0, $segs)] AS p
           |  FROM documents),
           |m AS (SELECT doc_id, p, list_sum(p) / $segs.0 AS mean FROM px),
           |bands AS (
           |  SELECT doc_id,
           |       $bandsSql
           |  FROM m)
           |SELECT a.doc_id AS d1, b.doc_id AS d2,
           |       CAST($ham AS BIGINT) AS hamming
           |FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND
           |     ($anyBand)
           |WHERE $ham <= $radius
           |ORDER BY d1, d2""".stripMargin
      }
    ) { (s, d) =>
      phashPairs(Tables.documents(s, d), segs, bands, radius)
        .orderBy(col("d1"), col("d2"))
    }
  }

  /** The near-dup pair dataflow at a (segs, bands) dial: banded
    * self-join on any agreeing band, Hamming verify at `radius`. Each
    * colliding pair is emitted exactly once via its FIRST matching band
    * (a pair joins at band j iff a_j = c_j, so keeping only the row
    * where every earlier band differs is equivalent to a distinct over
    * the join output) — a codegen'd FILTER in place of the prior
    * distinct, whose exchange of the data-quadratic candidate stream
    * was the measured x1000 scratch bound (r11e probe: ENOSPC in the
    * distinct's shuffle write at 536 s; the filter form never shuffles
    * a candidate row — join output flows straight into the verify). */
  private[graft] def phashPairs(docs: org.apache.spark.sql.DataFrame,
      segs: Int, bands: Int, radius: Int): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bands0 = phashBandCodes(docs, segs, bands)
    val bandCols = (0 until bands).map(b => col(s"b$b"))
    val exploded = bands0.select(
      $"doc_id" +: bandCols :+
        posexplode(array(bandCols: _*)).as(Seq("bi", "bv")): _*)
    val left = exploded.toDF(
      (("d1" +: (0 until bands).map(b => s"a$b")) ++ Seq("bi", "bv")): _*)
    val right = exploded.toDF(
      (("d2" +: (0 until bands).map(b => s"c$b")) ++ Seq("bi", "bv")): _*)
    val ham = (0 until bands)
      .map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"c$b"))))
      .reduce(_ + _)
    left
      .join(right, Seq("bi", "bv"))
      .filter($"d1" < $"d2" && firstMatchingBand(bands))
      .select($"d1", $"d2", ham.cast("long").as("hamming"))
      .filter($"hamming" <= radius)
  }

  /** Per-doc band codes for a (segs, bands) pHash dial: (doc_id,
    * b0..b{bands−1}) with each band a bandBits-wide code packed into a
    * BIGINT. A perceptual code is a per-document function of the
    * payload alone, so the pixel stage needs NO shuffle: the native
    * [[graft.plans.PhashBandCodes]] expression computes segment sums,
    * mean threshold, and packed codes in one scan-side pass over the
    * UTF-8 bytes (constant bytecode at any dial — the HyperplaneBuckets
    * JIT lesson). This replaced the explode + groupBy(doc, seg) form
    * (kept below as [[phashBandCodesExploded]] for the equivalence
    * spec), whose Θ(total chars) exchange was the measured x1000
    * scratch bound of the pHash probe family (SCALE.md r11 residual
    * #2). Empty text → all-zero code, same as before. */
  private[graft] def phashBandCodes(docs: org.apache.spark.sql.DataFrame,
      segs: Int, bands: Int): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val codes = graft.plans.PhashExpressions
      .phashBandCodes($"text", segs, bands)
    docs
      .select($"doc_id", codes.as("bc"))
      .select(
        $"doc_id" +: (0 until bands).map(b =>
          element_at($"bc", b + 1).as(s"b$b")): _*)
  }

  /** The pre-r11 pixel dataflow — ONE codegen'd explode +
    * count-shuffle keyed (doc, segment), Θ(total chars) shuffle rows.
    * Retained as the equivalence baseline: MultimodalSpec pins its
    * codes bit-identical to the native expression's at both registry
    * dials. Char at 1-based position j belongs to segment
    * (segs·j − 1) div n — verified identical to the oracle's range
    * slicing for every n. mean = (Σ ascii)/segs needs no spine: an
    * absent (doc, seg) row is a 0 pixel and 0 < mean always, so its
    * bit is 0. */
  private[graft] def phashBandCodesExploded(
      docs: org.apache.spark.sql.DataFrame,
      segs: Int, bands: Int): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bandBits = segs / bands
    val base = docs.select($"doc_id", $"text")
    val segSums = base
      .select($"doc_id", length($"text").as("n"),
        posexplode(split($"text", "")).as(Seq("pos", "ch")))
      .select($"doc_id",
        expr(s"($segs * pos + ${segs - 1}) div n").cast("int").as("seg"),
        ascii($"ch").cast("long").as("v"))
      .groupBy($"doc_id", $"seg")
      .agg(sum($"v").as("px"))
    val tot = segSums.groupBy($"doc_id").agg(sum($"px").as("tot"))
    val weights = array((0 until bandBits).map(j => lit(1L << j)): _*)
    def bandSum(b: Int) =
      sum(
        when($"seg" >= bandBits * b && $"seg" < bandBits * (b + 1) &&
          $"px" > $"tot" / lit(segs.toDouble),
          element_at(weights, ($"seg" % bandBits).cast("int") + 1))
          .otherwise(lit(0L))).as(s"b$b")
    val bandAgg = segSums
      .join(tot, "doc_id")
      .groupBy($"doc_id")
      .agg(bandSum(0), (1 until bands).map(bandSum): _*)
    // docs with empty text produce no char rows: all-zero code, kept
    base
      .select($"doc_id")
      .join(bandAgg, Seq("doc_id"), "left")
      .select(
        $"doc_id" +: (0 until bands).map(b =>
          coalesce(col(s"b$b"), lit(0L)).as(s"b$b")): _*)
  }

  /** First-matching-band predicate over the exploded banded self-join:
    * true iff the current row's band index `bi` is the SMALLEST band on
    * which the two codes agree (all earlier bands differ). The join on
    * (bi, bv) already guarantees a_bi = c_bi, so filtering on this emits
    * every colliding pair exactly once — same pair set as a distinct
    * over the join output, with zero exchange of the (data-quadratic)
    * candidate stream. */
  private def firstMatchingBand(bands: Int): org.apache.spark.sql.Column =
    (0 until bands).map { b =>
      (col("bi") === b) && (0 until b)
        .map(j => col(s"a$j") =!= col(s"c$j"))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)

  /** The fixture dial: 64-bit code, 4×16-bit bands, radius 10. */
  val qMediaPhashNearDup: QueryDef =
    phashQuery("q_media_phash_neardup", 64, 4, 10)

  /** The 5M+ corpus dial (SCALE.md's code-length analysis, made code):
    * 256-bit code, 4×64-bit bands (occupancy n/2⁶⁴ — the banded
    * candidate count stays ~linear at any realistic corpus), radius 40
    * (the same 10/64 proportion of the code length). */
  val qMediaPhashNearDup256: QueryDef =
    phashQuery("q_media_phash_neardup_256", 256, 4, 40)

  /** One decoded "audio" analysis window. */
  case class MediaWindow(doc_id: Long, widx: Int, energy: Long)

  /** Energy-based activity segmentation (the voice-activity-detection
    * shape: windowed energy → threshold → maximal active runs) over the
    * opaque payload: 16-byte windows, energy = byte sum, active =
    * energy above the per-doc mean, segments = maximal runs of active
    * windows found with the gaps-and-islands trick (widx − row_number
    * over actives is constant within a run). Emits the per-doc segment
    * census a frame-sampling/transcription stage consumes.
    *
    * STUB decode (byte-sum energy) per the family convention — the real
    * path swaps in an audio decoder; the window schema, the per-doc
    * threshold broadcast, and the island windows are the production
    * plumbing. Documents are ASCII so DuckDB replicates the windows
    * with substr arithmetic; the oracle sizes windows from
    * `length(text)` (NOT the n_chars metadata column, which could
    * drift from the payload), and MultimodalSpec pins the ASCII
    * byte==char assumption loudly so a non-ASCII testdata generation
    * fails a spec instead of silently hash-mismatching here.
    *
    * Scale: decode is partition-local; all windows are keyed by doc
    * (island detection never crosses documents), so the only exchange
    * is the per-doc aggregate. */
  val qMediaSegments = QueryDef.sql(
    "q_media_segments",
    """WITH w AS (
      |  SELECT doc_id,
      |         CAST(f AS INT) AS widx,
      |         CAST(list_sum([ord(ch) FOR ch IN
      |                str_split(substr(text, f * 16 + 1, 16), '')])
      |              AS BIGINT) AS energy
      |  FROM documents,
      |       LATERAL (SELECT unnest(range(0,
      |                  CAST((length(text) + 15) // 16 AS INT))) AS f)),
      |th AS (SELECT doc_id, avg(energy) AS me FROM w GROUP BY doc_id),
      |act AS (
      |  SELECT w.doc_id, w.widx,
      |         w.widx - row_number() OVER (PARTITION BY w.doc_id
      |                                     ORDER BY w.widx) AS island
      |  FROM w JOIN th ON th.doc_id = w.doc_id
      |  WHERE w.energy > th.me),
      |runs AS (
      |  SELECT doc_id, island, count(*) AS run_len
      |  FROM act GROUP BY doc_id, island),
      |tot AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id)
      |SELECT tot.doc_id,
      |       CAST(tot.n_windows AS BIGINT) AS n_windows,
      |       CAST(coalesce(sum(runs.run_len), 0) AS BIGINT) AS n_active,
      |       CAST(coalesce(count(runs.island), 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(max(runs.run_len), 0) AS BIGINT) AS longest_run
      |FROM tot LEFT JOIN runs ON runs.doc_id = tot.doc_id
      |GROUP BY tot.doc_id, tot.n_windows
      |ORDER BY tot.doc_id""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val winBytes = 16
    val w = Tables
      .documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = (bytes.length + winBytes - 1) / winBytes
          (0 until n).iterator.map { f =>
            val energy = bytes.slice(f * winBytes, (f + 1) * winBytes)
              .map(_ & 0xff).sum.toLong
            MediaWindow(id, f, energy)
          }
        }
      }
      .toDF()
    val th = w.groupBy($"doc_id").agg(avg($"energy").as("me"))
    val wIsl = Window.partitionBy($"doc_id").orderBy($"widx")
    val runs = w
      .join(th, "doc_id")
      .filter($"energy" > $"me")
      .select($"doc_id", ($"widx" - row_number().over(wIsl)).as("island"))
      .groupBy($"doc_id", $"island")
      .agg(count(lit(1)).as("run_len"))
    val tot = w.groupBy($"doc_id").agg(count(lit(1)).as("n_windows"))
    tot
      .join(runs, Seq("doc_id"), "left")
      .groupBy($"doc_id", $"n_windows")
      .agg(
        coalesce(sum($"run_len"), lit(0L)).cast("long").as("n_active"),
        coalesce(count($"island"), lit(0L)).cast("long").as("n_segments"),
        coalesce(max($"run_len"), lit(0L)).cast("long").as("longest_run"))
      .select($"doc_id", $"n_windows".cast("long").as("n_windows"),
        $"n_active", $"n_segments", $"longest_run")
      .orderBy($"doc_id")
  }

  def defs: Seq[QueryDef] =
    Seq(qBinaryRoundtrip, qMediaFeatures, qFrameSample, qMediaMeta,
      qMediaResize, qMediaPhashNearDup, qMediaPhashNearDup256,
      qMediaSegments)
}

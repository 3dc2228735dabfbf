package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media feature extraction has the contract schema") {
    val df = Multimodal.qMediaFeatures.fn(spark, sf)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(fields("doc_id") === LongType)
    assert(fields("n_bytes") === IntegerType)
    assert(fields("n_frames") === IntegerType)
    assert(fields("checksum") === LongType)
    assert(fields("features_csv") === StringType)
  }

  test("feature extraction is deterministic and consistent with payload size") {
    val rows = Multimodal.qMediaFeatures
      .fn(spark, sf)
      .filter($"doc_id" < 5)
      .collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val nBytes = r.getAs[Int]("n_bytes")
      val nFrames = r.getAs[Int]("n_frames")
      assert(nFrames === (nBytes + 31) / 32)
      assert(r.getAs[String]("features_csv").split(',').length === math.min(nFrames, 8))
    }
    // determinism: run twice, same checksums
    val again = Multimodal.qMediaFeatures
      .fn(spark, sf)
      .filter($"doc_id" < 5)
      .collect()
    assert(
      rows.map(_.getAs[Long]("checksum")).toSeq ===
        again.map(_.getAs[Long]("checksum")).toSeq)
  }

  test("fixture payloads are ASCII: byte length == char length == n_chars") {
    // qMediaSegments' DuckDB oracle windows the text with substr/ord
    // (codepoint) arithmetic while the Spark side windows the UTF-8
    // BYTE payload; the two agree iff the corpus is ASCII. Pin that
    // assumption here so a non-ASCII testdata generation fails THIS
    // spec loudly instead of silently hash-mismatching the oracle row.
    val offenders = Tables
      .documents(spark, sf)
      .filter(octet_length($"text") =!= length($"text") ||
        $"n_chars" =!= length($"text"))
      .count()
    assert(offenders === 0L)
  }

  test("chunk roundtrip digest equals direct md5 of the text") {
    val direct = Tables
      .documents(spark, sf)
      .select($"doc_id", md5(encode($"text", "UTF-8")).as("digest"))
    val viaChunks = Multimodal.qBinaryRoundtrip.fn(spark, sf)
    assert(viaChunks.except(direct).count() === 0)
    assert(direct.except(viaChunks).count() === 0)
  }

  // --- native pHash band codes vs the exploded-shuffle baseline ---

  private def codesMap(df: org.apache.spark.sql.DataFrame, bands: Int)
      : Map[Long, Seq[Long]] =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until bands).map(b => r.getAs[Long](s"b$b")))
      .toMap

  test("native pHash codes are bit-identical to the exploded form at both dials") {
    val docs = Tables.documents(spark, sf)
    for ((segs, bands) <- Seq((64, 4), (256, 4))) {
      val native = codesMap(Multimodal.phashBandCodes(docs, segs, bands), bands)
      val exploded =
        codesMap(Multimodal.phashBandCodesExploded(docs, segs, bands), bands)
      assert(native.size === exploded.size)
      assert(native === exploded, s"dial ${segs}bit/${bands}bands")
    }
  }

  test("native pHash codes: codegen path compiles and matches interpreted eval") {
    // fallback=false so a Janino failure in PhashBandCodes.doGenCode
    // fails the spec instead of silently degrading to interpreted.
    val was = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = Tables.documents(spark, sf).limit(50)
      val viaCodegen = codesMap(Multimodal.phashBandCodes(docs, 256, 4), 4)
      val viaInterp = docs
        .collect()
        .map { r =>
          val out = graft.plans.PhashBandCodes.compute(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(r.getAs[String]("text")), 256, 4, 64)
          r.getAs[Long]("doc_id") -> out.toSeq
        }
        .toMap
      assert(viaCodegen === viaInterp)
    } finally spark.conf.set("spark.sql.codegen.fallback", was)
  }

  /** Code-point reference for a single doc — the ORACLE's semantics
    * (DuckDB `ord(text[j:j])` = code point of the jth character),
    * written longhand over `String.codePoints`. */
  private def refCodes(text: String, segs: Int, bands: Int): Seq[Long] = {
    val cps = text.codePoints().toArray
    val n = cps.length
    val p = new Array[Long](segs)
    cps.zipWithIndex.foreach { case (cp, i) =>
      p(((segs.toLong * i + segs - 1) / n).toInt) += cp
    }
    val mean = p.sum.toDouble / segs
    val bandBits = segs / bands
    (0 until bands).map { b =>
      (0 until bandBits).foldLeft(0L)((acc, j) =>
        if (p(b * bandBits + j).toDouble > mean) acc | (1L << j) else acc)
    }
  }

  test("native pHash codes handle empty / short / multi-byte text per the oracle") {
    // Edges: empty text (all-zero code — the row the exploded form's
    // left join reinstated), a doc shorter than the segment count
    // (most segments empty), and 2/3/4-byte UTF-8 code points. The
    // reference is the ORACLE's ord() = code point semantics; note the
    // exploded baseline is NOT the reference off-ASCII (Spark's
    // ascii() returns the first BYTE, which diverges from ord() on
    // multi-byte chars — the fixture-is-ASCII spec above pins the
    // regime where all three agree).
    val docs = Seq(
      (1L, ""),
      (2L, "a"),
      (3L, "ab"),
      (4L, "café naïve"), // 2-byte
      (5L, "€€ plain 世界"), // 3-byte
      (6L, new String(Character.toChars(0x1f600)) + "x" +
        new String(Character.toChars(0x1d11e))), // 4-byte
      (7L, "z" * 553)
    )
    val df = docs.toDF("doc_id", "text")
    for ((segs, bands) <- Seq((64, 4), (256, 4))) {
      val native = codesMap(Multimodal.phashBandCodes(df, segs, bands), bands)
      val expect = docs.map { case (id, t) =>
        id -> (if (t.isEmpty) Seq.fill(bands)(0L) else refCodes(t, segs, bands))
      }.toMap
      assert(native === expect, s"dial ${segs}bit/${bands}bands")
    }
  }

  test("first-matching-band emission equals distinct over the banded join") {
    // The candidate join emits a colliding pair once per AGREEING band;
    // r11's first-band filter must keep exactly one row per pair — the
    // same set a distinct over the join output produced (the distinct's
    // exchange of the data-quadratic candidate stream was the measured
    // x1000 ENOSPC). Exercised where it matters: docs with MULTI-band
    // agreement (identical texts collide on all four bands) alongside
    // partial collisions from near-identical texts.
    import org.apache.spark.sql.functions.{col, count, lit}
    val base = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), col("text"))
    val clones = base.select((col("doc_id") + 100000L).as("doc_id"),
      col("text")) // full 4-band collisions with their originals
    val docs = base.unionAll(clones)
    for ((segs, bands, radius) <- Seq((64, 4, 10), (256, 4, 40))) {
      // reference pair set: explode → join → distinct(d1, d2)
      val codes = Multimodal.phashBandCodes(docs, segs, bands)
      val bandCols = (0 until bands).map(b => col(s"b$b"))
      val exploded = codes.select(
        col("doc_id") +: bandCols :+
          org.apache.spark.sql.functions
            .posexplode(org.apache.spark.sql.functions.array(bandCols: _*))
            .as(Seq("bi", "bv")): _*)
      val l = exploded.toDF(
        (("d1" +: (0 until bands).map(b => s"a$b")) ++ Seq("bi", "bv")): _*)
      val r = exploded.toDF(
        (("d2" +: (0 until bands).map(b => s"c$b")) ++ Seq("bi", "bv")): _*)
      val refPairs = l.join(r, Seq("bi", "bv"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2")).distinct()
      val nRef = refPairs.count()
      // the production emission (first matching band, no distinct); a
      // radius equal to the code length admits every candidate pair
      val nNew = Multimodal.phashPairs(docs, segs, bands, segs).count()
      assert(nNew === nRef, s"dial ${segs}bit/${bands}bands")
      assert(nRef >= clones.count(), "clone pairs must collide")
      // and the full query emits each qualifying pair exactly once
      val full = Multimodal
        .phashPairs(docs, segs, bands, radius)
      val dup = full.groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      assert(dup === 0L)
    }
  }

  test("native pHash pixel stage plans with zero exchanges before the codes") {
    // The point of the native expression: codes materialize in the
    // scan stage itself. The band-codes sub-plan must contain NO
    // shuffle exchange (the exploded baseline had the Θ(chars)
    // explode → groupBy(doc, seg) exchange here).
    val plan = Multimodal
      .phashBandCodes(Tables.documents(spark, sf), 256, 4)
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }
}

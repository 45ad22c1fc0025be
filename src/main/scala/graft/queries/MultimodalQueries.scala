package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column checks, all oracle-checked. q90/q91 exercise the
  * REAL image path end-to-end (embedding → TIFF bytes on executors →
  * decode [→ resize → re-encode → decode] → intensity features); the TIFF
  * round trip is the identity on pixels, so DuckDB recomputes the features
  * directly from the quantized embedding. q98 is the analogous REAL audio
  * path (embedding → RIFF/WAVE PCM16 bytes → container parse → RMS/peak).
  * q92 exercises the stubbed raw-PCM/video plumbing, whose byte-level
  * semantics DuckDB also reproduces exactly.
  */
object MultimodalQueries {

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    QueryDef.sql(
      "q90_multimodal_image_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      // spread: the per-row TIFF encode/decode work must not inherit the
      // local single-split scan (one task); at scale the scan is split-rich.
      // r19: the declared result is ORDER BY id LIMIT 100 and the
      // encode/decode is exactly one output row per input row, so the
      // limit legally pushes below the media kernels — take the 100
      // smallest vec_ids first (a TakeOrderedAndProject over the narrow
      // scan) and run the pipeline on those rows only; the final
      // orderBy/limit is unchanged, so the emitted rows are identical at
      // any SF while the decoded volume stays output-sized.
      val first100 = Tables.load(s, dir, "embeddings")
        .orderBy(col("vec_id").asc).limit(100)
      val media = Multimodal.embeddingsAsImages(Tables.spread(s, first100))
      Multimodal.imageFeatures(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // Image resize: 8x8 -> 4x4 nearest neighbour, then re-extract features.
    // The engine runs the REAL pipeline (encode → decode → NN resize →
    // re-encode → decode → features); the oracle recomputes the same pixels
    // directly from the quantized embedding: resized(x, y) = p[2x + 16y].
    QueryDef.sql(
      "q91_multimodal_resize",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings),
        |r AS (SELECT vec_id,
        |    list_transform(generate_series(0, 15),
        |      k -> p[2 * (k % 4) + 16 * (k // 4) + 1]) AS rp
        |  FROM px)
        |SELECT vec_id AS id,
        |  CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  round(CAST(list_reduce(rp, (a, b) -> a + b) AS DOUBLE) / len(rp), 4)
        |    AS mean_intensity
        |FROM r ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      // r19: same limit-pushdown as q90 — one output row per input row,
      // ORDER BY id LIMIT 100 tail unchanged
      val first100 = Tables.load(s, dir, "embeddings")
        .orderBy(col("vec_id").asc).limit(100)
      val media = Multimodal.embeddingsAsImages(Tables.spread(s, first100))
      val resized = Multimodal.resizeImages(media, 4, 4)
      Multimodal.imageFeatures(resized).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // Audio (stub decode) + video frame sampling (stub decode) over
    // document payloads treated as opaque media bytes. The stub interprets
    // UTF-8 bytes as signed 8-bit PCM — the oracle rebuilds the byte view
    // from hex(encode(text)), so even the stub path is hash-checked: RMS
    // over signed bytes and ceil((len/64)/2) sampled frames.
    QueryDef.sql(
      "q92_multimodal_audio_frames",
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |s AS (SELECT doc_id, n,
        |    list_transform(generate_series(1, n),
        |      i -> CASE WHEN ('0x' || substr(hx, 2*i - 1, 2))::INTEGER > 127
        |        THEN ('0x' || substr(hx, 2*i - 1, 2))::INTEGER - 256
        |        ELSE ('0x' || substr(hx, 2*i - 1, 2))::INTEGER END) AS sb
        |  FROM b)
        |SELECT doc_id AS id, CAST(n AS INTEGER) AS n_samples,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE
        |    sqrt(list_reduce(list_transform(sb, v -> CAST(v AS DOUBLE) * v),
        |      (a, c) -> a + c) / n) END, 4) AS rms,
        |  CAST((n // 64 + 1) // 2 AS BIGINT) AS n_frames
        |FROM s ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Tables.spread(s, Tables.load(s, dir, "documents"))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) => Multimodal.MediaRow(id, "audio/pcm-stub", b) }
      val audio = Multimodal.audioFeatures(media).toDF()
        .select(col("id"), col("n_samples"), round(col("rms"), 4).as("rms"))
      val frames = Multimodal.sampleFrames(media, frameBytes = 64, every = 2)
        .groupBy(col("id")).agg(count(lit(1)).as("n_frames"))
      audio.join(frames, Seq("id"), "left")
        .na.fill(0L, Seq("n_frames"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // REAL audio path: embedding → actual RIFF/WAVE PCM16 bytes on
    // executors → container parse (header validation, chunk walk) →
    // RMS/peak features. The WAV round trip is the identity on the
    // quantized samples, so DuckDB recomputes the features directly from
    // sample = clamp(floor(v·32767), ±int16). Narrow end to end: the only
    // exchange is the final orderBy's TakeOrdered.
    QueryDef.sql(
      "q98_multimodal_wav_features",
      """WITH s AS (SELECT vec_id,
        |    list_transform(embedding, v ->
        |      greatest(-32768, least(32767,
        |        CAST(floor(CAST(v AS DOUBLE) * 32767.0) AS BIGINT)))) AS smp
        |  FROM embeddings)
        |SELECT vec_id AS id, CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(len(smp) AS INTEGER) AS n_samples,
        |  round(sqrt(list_reduce(list_transform(smp, v -> CAST(v AS DOUBLE) * v),
        |    (a, b) -> a + b) / len(smp)), 4) AS rms,
        |  CAST(list_reduce(list_transform(smp, v -> abs(v)),
        |    (a, b) -> greatest(a, b)) AS INTEGER) AS peak
        |FROM s ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsWav(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.wavFeatures(media).toDF()
        .select(col("id"), col("sample_rate"), col("n_samples"),
          round(col("rms"), 4).as("rms"), col("peak"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // REAL video path: embedding → four 4×4 Cmono frames in an actual
    // YUV4MPEG2 container on executors → stream-header parse + FRAME
    // split → every-2nd-frame mean luma. The y4m round trip is the
    // identity on the quantized pixels, so DuckDB recomputes each sampled
    // frame's mean from the same 16-value slice of the q90 quantization.
    QueryDef.sql(
      "q102_multimodal_video_frames",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings),
        |f AS (SELECT vec_id, unnest([0, 2]) AS frame_idx FROM px)
        |SELECT px.vec_id AS id, f.frame_idx,
        |  CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  round(CAST(list_reduce(list_transform(generate_series(1, 16),
        |      i -> p[16 * frame_idx + i]), (a, b) -> a + b) AS DOUBLE) / 16,
        |    4) AS mean_luma
        |FROM px JOIN f ON px.vec_id = f.vec_id
        |ORDER BY id ASC, frame_idx ASC LIMIT 400""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsVideo(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.videoFrameFeatures(media, every = 2).toDF()
        .select(col("id"), col("frame_idx"), col("width"), col("height"),
          round(col("mean_luma"), 4).as("mean_luma"))
        .orderBy(col("id").asc, col("frame_idx").asc)
        .limit(400)
    },

    // ------------------------------------------------------------------
    // PERCEPTUAL-HASH IMAGE DEDUP (q188, r13; r16 wide bands — VERDICT
    // r15 #6) — near-dup detection for the IMAGE modality: every image's
    // average-hash (aHash — integer-exact mean threshold, the public
    // perceptual-fingerprint baseline) over a 16×16 raster (256 bits)
    // packed into four 64-BIT bands, then pairs at hamming distance ≤ 3
    // found via a LOSSLESS banded equi-join: hamming ≤ 3 over the hash
    // means at least one of the 4 bands matches exactly (pigeonhole), so
    // candidate generation is a keyed join on (band_idx, band_value) —
    // never all-pairs — and the exact hamming verify runs only on
    // band-colliding candidates. r16 retires the original 4×16-bit
    // packing as the production default: on a 2^16 band space random
    // collisions grow ~n²/2^16 (the band-saturation curve frozen in
    // BASELINE.md's r15 rows paid 5.68 M sf10 candidates), while the
    // 2^64 space keeps candidates true-dup-sized at any realistic
    // corpus — the q215 lever, now THE default. Same REAL image path
    // (embedding → TIFF encode → executor-side decode → hash; 16×16 via
    // the PNG16 jitter lattice in a TIFF container). Dup path kept LIVE
    // by injected replays per the
    // q40/q99 discipline: 10 exact copies (hamming 0) and 5 one-value
    // perturbations; the oracle replays the injection, the pixel
    // expansion, the hash, band packing (HUGEINT shifts folded to signed
    // BIGINT two's complement), and an all-pairs hamming scan — which
    // the banded join must reproduce exactly BECAUSE the blocking is
    // lossless.
    QueryDef.sql(
      "q188_phash_dedup",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id < 10
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |    list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
        |           ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 15),
        |px AS (SELECT vec_id,
        |    list_transform(generate_series(0, 255), i ->
        |      greatest(0, least(255,
        |        greatest(0, least(255,
        |          CAST(floor((CAST(embedding[((i // 16) // 2) * 8
        |            + ((i % 16) // 2) + 1] AS DOUBLE) + 1.0) * 127.5)
        |            AS INTEGER)))
        |        + CASE ((i // 16) % 2) * 2 + ((i % 16) % 2)
        |            WHEN 0 THEN 0 WHEN 1 THEN 9 WHEN 2 THEN -7
        |            ELSE 4 END))) AS p
        |  FROM corpus),
        |hs AS (SELECT vec_id, p, list_reduce(p, (a, b) -> a + b) AS s
        |  FROM px),
        |bands AS (SELECT vec_id, j,
        |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
        |      AS BIGINT) AS b
        |  FROM (SELECT vec_id, j,
        |      list_reduce(list_transform(generate_series(0, 63), t ->
        |        CASE WHEN 256 * p[64*j + t + 1] >= s
        |          THEN (1::HUGEINT << t) ELSE 0::HUGEINT END),
        |        (a, x) -> a + x) AS u
        |    FROM hs CROSS JOIN generate_series(0, 3) g(j))),
        |wf AS (SELECT vec_id, list(b ORDER BY j ASC) AS bl
        |  FROM bands GROUP BY vec_id),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.j = b.j AND a.b = b.b AND a.vec_id < b.vec_id),
        |ham AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(wa.bl[1], wb.bl[1]))
        |    + bit_count(xor(wa.bl[2], wb.bl[2]))
        |    + bit_count(xor(wa.bl[3], wb.bl[3]))
        |    + bit_count(xor(wa.bl[4], wb.bl[4])) AS hamming
        |  FROM cand c JOIN wf wa ON wa.vec_id = c.id_a
        |  JOIN wf wb ON wb.vec_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM ham WHERE hamming <= 3
        |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val exact = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, lit(1.0f)).otherwise(x)).as("embedding"))
      val corpus = e.unionAll(exact).unionAll(perturbed)
      // the fingerprint table is referenced four times downstream (both
      // self-join sides + both hamming-confirm sides); without a
      // materialization the 200k ImageIO TIFF decodes re-run per
      // reference (~45 s at sf10 vs ~12 s checkpointed) — the table
      // itself is ~5 B/row-scale, trivially checkpointable
      val fp = Multimodal.imageAHashWide(
          Multimodal.embeddingsAsTiff16(Tables.spread(s, corpus)),
          side = 16).toDF().localCheckpoint()
      val bandCols = Seq("b0", "b1", "b2", "b3")
      val exploded = fp.select(col("id"),
          posexplode(array(bandCols.map(col): _*)))
        .select(col("id"), col("pos").as("j"), col("col").as("h"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.j") === col("b.j") && col("a.h") === col("b.h") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val ha = bandCols.foldLeft(fp)((d, c) => d.withColumnRenamed(c, s"a_$c"))
        .withColumnRenamed("id", "id_a")
      val hb = bandCols.foldLeft(fp)((d, c) => d.withColumnRenamed(c, s"b_$c"))
        .withColumnRenamed("id", "id_b")
      val hamming = bandCols
        .map(c => bit_count(col(s"a_$c").bitwiseXOR(col(s"b_$c"))))
        .reduce(_ + _)
      cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // PNG DECODE (q202, r14) — the crawl-native lossless image format,
    // closing VERDICT r13 missing #1 alongside q203. Each embedding is
    // encoded executor-side as a REAL 8-bit grayscale PNG whose row
    // filters rotate through all five filter types (None/Sub/Up/Average/
    // Paeth), then decoded back through functions.ImageCodecs — zlib
    // inflate, CRC verification, full unfiltering — and reduced to
    // intensity features. PNG is lossless, so the oracle replays the
    // pixel arithmetic straight off the embedding (the q90 discipline);
    // the codec itself is cross-validated against the JDK's independent
    // ImageIO implementation in ImageCodecsSpec, exact in both
    // directions. Scale shape: narrow mapPartitions over a spread scan —
    // media bytes never shuffle.
    QueryDef.sql(
      "q202_multimodal_png_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsPng(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // ADAM7-INTERLACED PNG DECODE (q219, r16 — VERDICT r15 #4): old-web
    // crawls carry interlaced PNGs, which r15's decoder rejected loudly
    // and every image query error-tagged. The corpus here alternates
    // container layouts by id parity — even ids sequential, odd ids
    // Adam7 (seven independent reduction-pass scanline streams, each
    // filtered against its own zero prior row, rotating row filters
    // across the global pass-row counter) — and ONE feature query runs
    // over both. Interlacing is a lossless rearrangement, so the oracle
    // replays the pixel arithmetic straight off the embedding exactly as
    // q202 does; a seven-pass decode that scattered, unfiltered, or
    // sized any pass wrongly would hash-diverge on every odd id. The
    // codec itself is cross-pinned against ImageIO in ImageCodecsSpec
    // (both directions, empty/edge passes, malformed-pass rejects).
    QueryDef.sql(
      "q219_png_interlaced_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(vec_id % 2 = 1 AS BOOLEAN) AS interlaced,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsPngMixedInterlace(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), (col("id") % 2 === 1).as("interlaced"),
          col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // CMYK (4-COMPONENT) JPEG DECODE (q220, r16 — VERDICT r15 #5):
    // print-origin images are a steady share of real crawls, and r15's
    // decoder rejected nc=4 loudly. Fixtures are BLOCK-CONSTANT Adobe
    // CMYK JPEGs (APP14 transform 0; four planes drawn from the
    // embedding's pixel quantization at per-plane rotations), so the
    // lossy format round-trips exactly and the oracle can replay the
    // whole decode: stored inverted planes, then the documented
    // composite v = (c'·k' + 127) // 255 per channel — integer
    // round-half-up, identical on both engines. The entropy/DCT path is
    // independently pinned in ImageCodecsSpec via the JDK reader's raw
    // 4-band raster of our bytes; YCCK (transform 2) and the Adobe-RGB
    // 3-component face are spec-pinned too.
    QueryDef.sql(
      "q220_multimodal_cmyk_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings),
        |rgb AS (SELECT vec_id,
        |    flatten(list_transform(generate_series(0, 63), i -> [
        |      (p[i + 1] * p[(i + 48) % 64 + 1] + 127) // 255,
        |      (p[(i + 16) % 64 + 1] * p[(i + 48) % 64 + 1] + 127) // 255,
        |      (p[(i + 32) % 64 + 1] * p[(i + 48) % 64 + 1] + 127) // 255
        |    ])) AS v
        |  FROM px)
        |SELECT vec_id AS id,
        |  CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
        |  round(CAST(list_reduce(v, (a, b) -> a + b) AS DOUBLE) / len(v), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(v, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(v, 'max') AS INTEGER) AS max_intensity
        |FROM rgb ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsCmykJpeg(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // JPEG DECODE (q203, r14) — baseline sequential DCT, the format an
    // actual image crawl is made of. Fixtures are BLOCK-CONSTANT 64×64
    // grayscale JPEGs (one embedding value per 8×8 block) encoded with a
    // flat quantizer: constant blocks have a DC-only spectrum, so the
    // lossy format round-trips EXACTLY and the DuckDB oracle can replay
    // the pixel arithmetic of a JPEG-decoding plan (the q194 engine-
    // independent-constants discipline applied to a codec). The decode
    // is the REAL wire format — marker parse, canonical Huffman,
    // dequant, zigzag, IDCT — and handles foreign 4:2:0 color streams
    // too (ImageCodecsSpec pins agreement with the JDK's decoder on
    // ImageIO-written bytes). mean = avg of block constants, min/max
    // likewise; width/height are 8× the embedding grid.
    QueryDef.sql(
      "q203_multimodal_jpeg_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsJpeg(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // PROGRESSIVE JPEG DECODE (q213, r15) — SOF2, the wire format most
    // of a real web crawl actually ships (VERDICT r14 missing #1: q203's
    // baseline-only decoder error-tagged progressive containers, so the
    // image dedup family silently skipped the majority of a live
    // corpus). Fixtures are q203's block-constant flat-quantizer images
    // encoded as REAL progressive streams — a DC scan plus a spectral-
    // selection AC scan whose all-zero bands arrive as EOB RUNS — and
    // decoded through the full T.81 G.1.2 coefficient-accumulation path
    // (ImageCodecsSpec additionally pins the JDK writer's successive-
    // approximation script: DC first/refine, AC first at Al>0, AC
    // refine). Block-constant + flat quantizer keeps the round trip
    // EXACT, so the oracle replays the pixel arithmetic off the
    // embedding; the `sof2` column is read from the ACTUAL marker
    // stream — its TRUE value proves the plan consumed progressive
    // containers, not baseline re-runs. Scale shape: q203's — one
    // narrow mapPartitions decode pass, media bytes never shuffle.
    QueryDef.sql(
      "q213_multimodal_progressive_jpeg",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity,
        |  CAST(1 AS BOOLEAN) AS sof2
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsProgressiveJpeg(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCodedFmt(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"), col("sof2"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // PALETTE PNG DECODE (q214, r15) — color type 3, the second-most-
    // common real-crawl profile q202's truecolor-only decoder rejected
    // (VERDICT r14 missing #3: icons, charts, screenshots ship as
    // palette PNGs). Fixtures are REAL PLTE containers: each embedding
    // value quantizes to a palette INDEX and the 256-entry palette is
    // the deterministic lattice r=(i·37+11)%256 / g=(i·59+3)%256 /
    // b=(i·83+29)%256, so the decoded RGB arithmetic replays in the
    // oracle straight off the embedding (the q202 discipline; the codec
    // itself — PLTE/tRNS parse, sub-byte index unpacking, palette-range
    // rejects — is cross-validated against ImageIO both directions in
    // ImageCodecsSpec). Features aggregate over ALL RGB samples. Scale
    // shape: one narrow mapPartitions decode pass, bytes never shuffle.
    QueryDef.sql(
      "q214_multimodal_palette_png",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings),
        |rgb AS (SELECT vec_id,
        |    list_transform(p, i -> (i*37 + 11) % 256) AS r,
        |    list_transform(p, i -> (i*59 + 3) % 256) AS g,
        |    list_transform(p, i -> (i*83 + 29) % 256) AS b
        |  FROM px)
        |SELECT vec_id AS id,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(r, (a, x) -> a + x)
        |      + list_reduce(g, (a, x) -> a + x)
        |      + list_reduce(b, (a, x) -> a + x) AS DOUBLE) / (3 * len(r)), 4)
        |    AS mean_intensity,
        |  CAST(least(list_aggregate(r, 'min'), list_aggregate(g, 'min'),
        |    list_aggregate(b, 'min')) AS INTEGER) AS min_intensity,
        |  CAST(greatest(list_aggregate(r, 'max'), list_aggregate(g, 'max'),
        |    list_aggregate(b, 'max')) AS INTEGER) AS max_intensity
        |FROM rgb ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsPalettePng(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // WIDE-BAND IMAGE NEAR-DUP DEDUP (q215, r15) — the widen-bands-with-n
    // saturation lever as a FIRST-CLASS query: q188/q205/q210's 4×16-bit
    // banding holds a constant ~1.6e-4 share of the QUADRATIC pair space
    // as the corpus grows (measured, BASELINE.md r15: 122 → 33k → 3.1M
    // candidates at n = 2k/20k/200k), because the 16-bit band space
    // saturates; this query runs the same pigeonhole discipline over a
    // 256-bit aHash (16×16 raster) packed into four 64-BIT bands — same
    // band count, same hamming≤3 radius, band space 2^64 — which cuts
    // sf10 candidates ~620× while every injected exact copy still
    // collides in all four bands. Fixtures are REAL 16×16 PNGs decoded
    // executor-side (embeddingsAsPng16's deterministic 2×2-jitter
    // expansion); the oracle replays pixels, hash bits (integer-exact
    // 256·px ≥ sum), band packing (HUGEINT shifts folded to signed
    // BIGINT two's complement), the band join, and the xor/bit_count
    // hamming verify. Ten injected exact copies keep the dup path live.
    QueryDef.sql(
      "q215_phash_wideband_dedup",
      """WITH corpus AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id < 10),
        |px AS (SELECT vec_id,
        |    list_transform(generate_series(0, 255), i ->
        |      greatest(0, least(255,
        |        greatest(0, least(255,
        |          CAST(floor((CAST(embedding[((i // 16) // 2) * 8
        |            + ((i % 16) // 2) + 1] AS DOUBLE) + 1.0) * 127.5)
        |            AS INTEGER)))
        |        + CASE ((i // 16) % 2) * 2 + ((i % 16) % 2)
        |            WHEN 0 THEN 0 WHEN 1 THEN 9 WHEN 2 THEN -7
        |            ELSE 4 END))) AS p
        |  FROM corpus),
        |hs AS (SELECT vec_id, p, list_reduce(p, (a, b) -> a + b) AS s
        |  FROM px),
        |bands AS (SELECT vec_id, j,
        |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
        |      AS BIGINT) AS b
        |  FROM (SELECT vec_id, j,
        |      list_reduce(list_transform(generate_series(0, 63), t ->
        |        CASE WHEN 256 * p[64*j + t + 1] >= s
        |          THEN (1::HUGEINT << t) ELSE 0::HUGEINT END),
        |        (a, x) -> a + x) AS u
        |    FROM hs CROSS JOIN generate_series(0, 3) g(j))),
        |wf AS (SELECT vec_id, list(b ORDER BY j ASC) AS bl
        |  FROM bands GROUP BY vec_id),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.j = b.j AND a.b = b.b AND a.vec_id < b.vec_id),
        |ham AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(wa.bl[1], wb.bl[1]))
        |    + bit_count(xor(wa.bl[2], wb.bl[2]))
        |    + bit_count(xor(wa.bl[3], wb.bl[3]))
        |    + bit_count(xor(wa.bl[4], wb.bl[4])) AS hamming
        |  FROM cand c JOIN wf wa ON wa.vec_id = c.id_a
        |  JOIN wf wb ON wb.vec_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM ham WHERE hamming <= 3
        |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val corpus = e.unionAll(e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val media = Multimodal.embeddingsAsPng16(Tables.spread(s, corpus))
      val fp = Multimodal.imageAHashWide(media, side = 16).toDF()
      val bands = fp.select(col("id"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
        .select(col("id"), col("pos"), col("col").as("b"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.pos") === col("b.pos") && col("a.b") === col("b.b") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val ha = fp.select(col("id").as("id_a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      val hb = fp.select(col("id").as("id_b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
      val hamming = (bit_count(col("a0").bitwiseXOR(col("c0")))
        + bit_count(col("a1").bitwiseXOR(col("c1")))
        + bit_count(col("a2").bitwiseXOR(col("c2")))
        + bit_count(col("a3").bitwiseXOR(col("c3")))).cast("int")
      cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), hamming.as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // CROSS-FORMAT PERCEPTUAL DEDUP (q205, r14; r16 adds GIF) — the
    // mixed-format crawl reality q188 abstracts away: the SAME image
    // arrives re-encoded across containers, and a byte-level digest
    // (q25/q40) is blind to the re-encode. The corpus alternates formats
    // by id parity (even→PNG 8×8, odd→JPEG 64×64 block-constant); the
    // q188 injection discipline keeps the dup path live with 10 exact
    // copies stored in the OPPOSITE format of their original and 5
    // one-value perturbations, which since r16 arrive as GIF (mixed
    // sequential/interlaced LZW — the third wire format, so their
    // near-dup pairs against the JPEG originals are now cross-format
    // survivals too). All three decode paths land on the same 8×8 aHash
    // raster (imagePHashCoded nearest-reduces the 64×64 JPEG to its
    // block constants and collapses the GIF's verified-gray palette
    // RGB), so a cross-format duplicate is hamming 0 BY CONSTRUCTION of
    // the fingerprint, not by luck — the result's cross_format flag
    // shows exactly which survived a format change. All three encodings
    // are pixel-exact here (PNG/GIF lossless; block-constant JPEG has a
    // DC-only spectrum), so the oracle replays the pixel arithmetic
    // straight off the embedding, format-independently.
    // Scale shape: q188's — one narrow real-decode pass, lossless
    // 4×16-bit pigeonhole banding (hamming ≤ 3 ⇒ ≥ 1 band equal), band
    // equi-join, exact hamming verify on candidates only.
    QueryDef.sql(
      "q205_phash_crossformat_dedup",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id < 10
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |    list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
        |           ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 15),
        |fmt AS (SELECT vec_id,
        |    CASE WHEN vec_id >= 200000 THEN 2
        |         WHEN vec_id >= 100000 THEN
        |           CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END
        |         ELSE CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END
        |    END AS f
        |  FROM corpus),
        |px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM corpus),
        |hs AS (SELECT vec_id, p,
        |    list_reduce(list_prepend(0, p), (a, b) -> a + b) AS s
        |  FROM px),
        |bits AS (SELECT vec_id,
        |    list_transform(generate_series(0, 63),
        |      i -> CASE WHEN 64 * p[i + 1] >= s THEN 1 ELSE 0 END) AS b
        |  FROM hs),
        |bands AS (SELECT vec_id,
        |    list_transform(generate_series(0, 3), j ->
        |      list_reduce(list_prepend(0,
        |        list_transform(generate_series(0, 15),
        |          k -> b[16 * j + k + 1] << k)), (a, c) -> a + c)) AS bd
        |  FROM bits)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(bit_count(xor(CAST(a.bd[1] AS BIGINT), CAST(b.bd[1] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[2] AS BIGINT), CAST(b.bd[2] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[3] AS BIGINT), CAST(b.bd[3] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[4] AS BIGINT), CAST(b.bd[4] AS BIGINT)))
        |    AS INTEGER) AS hamming,
        |  CAST(fa.f <> fb.f AS INTEGER) AS cross_format
        |FROM bands a JOIN bands b ON a.vec_id < b.vec_id
        |JOIN fmt fa ON fa.vec_id = a.vec_id
        |JOIN fmt fb ON fb.vec_id = b.vec_id
        |WHERE bit_count(xor(CAST(a.bd[1] AS BIGINT), CAST(b.bd[1] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[2] AS BIGINT), CAST(b.bd[2] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[3] AS BIGINT), CAST(b.bd[3] AS BIGINT)))
        |    + bit_count(xor(CAST(a.bd[4] AS BIGINT), CAST(b.bd[4] AS BIGINT)))
        |    <= 3
        |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val exact = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, lit(1.0f)).otherwise(x)).as("embedding"))
      val corpus = Tables.spread(s, e.unionAll(exact).unionAll(perturbed))
      // fmt rule on the FINAL id (0 = PNG, 1 = JPEG): base alternates by
      // parity; exact copies take the OPPOSITE of their original (same
      // parity, inverted rule); perturbations are always JPEG
      def fmtCol(c: org.apache.spark.sql.Column) =
        when(c >= 200000L, 2)
          .when(c >= 100000L, when(c % 2 === 0, 1).otherwise(0))
          .otherwise(when(c % 2 === 0, 0).otherwise(1))
      val media = Multimodal.embeddingsAsPng(corpus.filter(fmtCol(col("vec_id")) === 0))
        .unionAll(Multimodal.embeddingsAsJpeg(corpus.filter(fmtCol(col("vec_id")) === 1)))
        .unionAll(Multimodal.embeddingsAsGifMixedInterlace(
          corpus.filter(fmtCol(col("vec_id")) === 2)))
      val ph = Multimodal.imagePHashCoded(media).toDF()
      val bandCols = Seq("h0", "h1", "h2", "h3")
      val exploded = ph.select(col("id"),
          posexplode(array(bandCols.map(col): _*)))
        .select(col("id"), col("pos").as("j"), col("col").as("h"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.j") === col("b.j") && col("a.h") === col("b.h") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val ha = bandCols.foldLeft(ph)((d, c) => d.withColumnRenamed(c, s"a_$c"))
        .withColumnRenamed("id", "id_a")
      val hb = bandCols.foldLeft(ph)((d, c) => d.withColumnRenamed(c, s"b_$c"))
        .withColumnRenamed("id", "id_b")
      val hamming = bandCols
        .map(c => bit_count(col(s"a_$c").bitwiseXOR(col(s"b_$c"))))
        .reduce(_ + _)
      cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"),
          (fmtCol(col("id_a")) =!= fmtCol(col("id_b"))).cast("int")
            .as("cross_format"))
        .filter(col("hamming") <= 3)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // ACOUSTIC FINGERPRINT DEDUP (q208, r14; r16 wide bands — VERDICT
    // r15 #6) — near-dup detection for an AUDIO corpus, the third
    // modality to get the banded-hamming treatment (q188 images, q205
    // cross-format images). The fingerprint is the delta-sign sequence
    // of the REAL decoded PCM16 sample ENERGIES over a 256-sample clip
    // (bit_i = |s[i+1]| > |s[i]|, wraparound last bit) — energy deltas
    // are invariant under any positive gain, which is how the same
    // recording re-encoded at a different level evades byte digests;
    // 256 bits packed into four 64-BIT bands whose pigeonhole makes the
    // band equi-join a LOSSLESS blocker for hamming ≤ 3. r16 retires
    // the 4×16-bit packing as the default: 2^16-band-space random
    // collisions grow ~n²/2^16 (the band saturation in BASELINE.md's
    // r15 rows), 2^64 keeps candidates true-dup-sized at any corpus.
    // Clips come from the deterministic 4×-jitter expansion
    // (embeddingsAsWavLong). Dup paths live by injection (q40/q99
    // discipline): 10 exact copies
    // (hamming 0) and 5 one-value perturbations. The WAV round trip is
    // the identity on quantized samples, so the oracle replays the
    // expansion, energies, deltas, band packing (HUGEINT shifts folded
    // to signed BIGINT), and the all-pairs hamming scan — which the
    // banded join must reproduce exactly BECAUSE the blocking is
    // lossless.
    QueryDef.sql(
      "q208_audio_fingerprint_dedup",
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id < 10
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |    list_transform(generate_series(1, len(embedding)),
        |      i -> CASE WHEN i = 1 THEN CAST(1.0 AS FLOAT)
        |           ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 15),
        |en AS (SELECT vec_id,
        |    list_transform(generate_series(0, 255), k ->
        |      abs(greatest(-32768, least(32767,
        |        greatest(-32768, least(32767,
        |          CAST(floor(CAST(embedding[k // 4 + 1] AS DOUBLE)
        |            * 32767.0) AS BIGINT)))
        |        + CASE k % 4 WHEN 0 THEN 0 WHEN 1 THEN 900
        |            WHEN 2 THEN -700 ELSE 400 END)))) AS e
        |  FROM corpus),
        |bands AS (SELECT vec_id, j,
        |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
        |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
        |      AS BIGINT) AS b
        |  FROM (SELECT vec_id, j,
        |      list_reduce(list_transform(generate_series(0, 63), t ->
        |        CASE WHEN (CASE WHEN 64*j + t < 255
        |            THEN e[64*j + t + 2] > e[64*j + t + 1]
        |            ELSE e[1] > e[256] END)
        |          THEN (1::HUGEINT << t) ELSE 0::HUGEINT END),
        |        (a, x) -> a + x) AS u
        |    FROM en CROSS JOIN generate_series(0, 3) g(j))),
        |wf AS (SELECT vec_id, list(b ORDER BY j ASC) AS bl
        |  FROM bands GROUP BY vec_id),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.j = b.j AND a.b = b.b AND a.vec_id < b.vec_id),
        |ham AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(wa.bl[1], wb.bl[1]))
        |    + bit_count(xor(wa.bl[2], wb.bl[2]))
        |    + bit_count(xor(wa.bl[3], wb.bl[3]))
        |    + bit_count(xor(wa.bl[4], wb.bl[4])) AS hamming
        |  FROM cand c JOIN wf wa ON wa.vec_id = c.id_a
        |  JOIN wf wb ON wb.vec_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM ham WHERE hamming <= 3
        |ORDER BY id_a ASC, id_b ASC""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val exact = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val perturbed = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, lit(1.0f)).otherwise(x)).as("embedding"))
      val corpus = Tables.spread(s, e.unionAll(exact).unionAll(perturbed))
      val fp = Multimodal.audioFingerprintWide(
        Multimodal.embeddingsAsWavLong(corpus), nBits = 256).toDF()
      val bandCols = Seq("b0", "b1", "b2", "b3")
      val exploded = fp.select(col("id"),
          posexplode(array(bandCols.map(col): _*)))
        .select(col("id"), col("pos").as("j"), col("col").as("h"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.j") === col("b.j") && col("a.h") === col("b.h") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val ha = bandCols.foldLeft(fp)((d, c) => d.withColumnRenamed(c, s"a_$c"))
        .withColumnRenamed("id", "id_a")
      val hb = bandCols.foldLeft(fp)((d, c) => d.withColumnRenamed(c, s"b_$c"))
        .withColumnRenamed("id", "id_b")
      val hamming = bandCols
        .map(c => bit_count(col(s"a_$c").bitwiseXOR(col(s"b_$c"))))
        .reduce(_ + _)
      cand.join(ha, Seq("id_a")).join(hb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },

    // ------------------------------------------------------------------
    // VIDEO SCENE-CUT DETECTION (q209, r14) — the frame-segmentation
    // pass a video-curation pipeline runs before sampling training
    // frames (cutting at scene boundaries instead of blindly every Nth
    // frame). A cut between consecutive frames is |Σluma_i − Σluma_{i−1}|
    // ≥ threshold over the REAL decoded Y4M frames — integer SUMS, never
    // a mean, so the verdicts have no rounding surface and the oracle
    // replays them exactly off the quantized pixels (the y4m round trip
    // is the identity, q102's discipline). Threshold 120 (7.5 luma
    // levels over a 16-pixel frame) was chosen off the MEASURED
    // max-delta distribution (median 113 at sf0.01), so the corpus
    // splits into genuinely mixed cut counts — both 0-cut and multi-cut
    // clips are live, not a vacuous all-zero column. Scale shape: cuts are intra-clip by definition, so the whole
    // pass is ONE narrow mapPartitions emitting one bounded row per
    // clip; frames never shuffle, the only exchange is the final
    // order's TakeOrdered.
    QueryDef.sql(
      "q209_video_scene_cuts",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS BIGINT)))) AS p
        |  FROM embeddings),
        |sums AS (SELECT vec_id,
        |    list_transform(generate_series(0, 3), f ->
        |      list_reduce(list_transform(generate_series(1, 16),
        |        i -> p[16 * f + i]), (a, b) -> a + b)) AS fs
        |  FROM px)
        |SELECT vec_id AS id, CAST(4 AS INTEGER) AS n_frames,
        |  CAST(len(list_filter(generate_series(1, 3),
        |    f -> abs(fs[f + 1] - fs[f]) >= 120)) AS BIGINT) AS n_cuts,
        |  CAST(greatest(abs(fs[2] - fs[1]), abs(fs[3] - fs[2]),
        |    abs(fs[4] - fs[3])) AS BIGINT) AS max_delta
        |FROM sums ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsVideo(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.videoSceneCuts(media, sumDeltaThreshold = 120L).toDF()
        .select(col("id"), col("n_frames"), col("n_cuts"), col("max_delta"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // GIF DECODE (q221, r16) — the remaining first-class image wire
    // format a real crawl ships that the image family error-tagged:
    // GIF89a with REAL LZW (growing code width, clear/reset, sub-block
    // framing), palette resolution, and BOTH row layouts — even ids
    // sequential, odd ids four-pass interlaced (the q219 mixed-layout
    // discipline on the GIF container). GIF is lossless, so the oracle
    // replays the pixel arithmetic straight off the embedding; the
    // `interlaced` column is read from the ACTUAL image descriptor (the
    // q213 sof2 discipline), so its alternation proves the plan consumed
    // both layouts. The codec is cross-pinned against the JDK's
    // independent ImageIO GIF implementation in GifCodecSpec (both
    // directions, LZW table overflow, disposal semantics). Scale shape:
    // one narrow mapPartitions decode pass — media bytes never shuffle.
    QueryDef.sql(
      "q221_gif_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(vec_id % 2 = 1 AS BOOLEAN) AS interlaced,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsGifMixedInterlace(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.gifFeatures(media).toDF()
        .select(col("id"), col("interlaced"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // ANIMATED-GIF COMPOSITED SCENE CUTS (q222, r16) — q209's cut
    // detection on the container feature raw frame streams don't have:
    // GIF animations are SUB-RECT frames composited onto the logical
    // screen under disposal rules. Each clip is one full 4×4 base frame
    // plus three partial 2×2 patches at (0,0)/(2,0)/(0,2) with disposal
    // 1, so every per-frame canvas sum (INTEGER, channel-0 plane — the
    // exact gray sum, q209's no-rounding discipline) depends on the
    // patch landing at its offset over the PRESERVED prior canvas. The
    // oracle replays the composite arithmetic off the embedding: sum
    // after patch f = previous sum − covered base pixels + patch
    // pixels. A cut is a canvas-sum jump ≥ 30 (measured median |Δ| is
    // 31 at sf0.01, so the corpus splits into genuinely mixed 0-3 cut
    // counts at both gate SFs); `last_sum` pins the full composite
    // chain. Scale shape: q209's — one narrow per-clip decode kernel,
    // bounded one-row output per clip, TakeOrdered at the end.
    QueryDef.sql(
      "q222_gif_animation_cuts",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS BIGINT)))) AS p
        |  FROM embeddings),
        |sums AS (SELECT vec_id,
        |  list_reduce(list_transform(generate_series(1, 16), i -> p[i]),
        |    (a, b) -> a + b) AS s0,
        |  (p[17]+p[18]+p[19]+p[20]) - (p[1]+p[2]+p[5]+p[6]) AS d1,
        |  (p[21]+p[22]+p[23]+p[24]) - (p[3]+p[4]+p[7]+p[8]) AS d2,
        |  (p[25]+p[26]+p[27]+p[28]) - (p[9]+p[10]+p[13]+p[14]) AS d3
        |  FROM px)
        |SELECT vec_id AS id, CAST(4 AS INTEGER) AS n_frames,
        |  CAST(CASE WHEN abs(d1) >= 30 THEN 1 ELSE 0 END +
        |       CASE WHEN abs(d2) >= 30 THEN 1 ELSE 0 END +
        |       CASE WHEN abs(d3) >= 30 THEN 1 ELSE 0 END AS INTEGER) AS n_cuts,
        |  CAST(s0 + d1 + d2 + d3 AS BIGINT) AS last_sum
        |FROM sums ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsAnimatedGif(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.gifAnimationStats(media, cutThreshold = 30L).toDF()
        .select(col("id"), col("n_frames"), col("n_cuts"), col("last_sum"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // G.711 TELEPHONY WAV DECODE (q224, r16) — µ-law/A-law 8-bit WAV,
    // the wire format call-center and telephony audio arrives in, which
    // the PCM16-only decoder rejected loudly. The corpus alternates laws
    // by id parity (even→µ-law format 7, odd→A-law format 6 — the q221
    // mixed-layout discipline on the audio container), and decodeWav
    // expands each code byte through the ITU G.711 tables to PCM16, so
    // the EXISTING feature kernel (wavFeatures) consumes both formats
    // transparently. The expansion is pure integer arithmetic, so the
    // oracle replays it formula-for-formula off the byte quantization:
    // µ-law mag = ((m·8+132)<<e)−132 on the complemented byte (sign bit
    // negative), A-law mag = (m·16+8 | (m·16+264)<<(e−1)) on byte⊕0x55
    // (sign bit POSITIVE — the inverted convention). Both tables are
    // cross-pinned against the JDK's independent javax.sound.sampled
    // G.711 codecs on all 256 code points (MultimodalSpec). Scale
    // shape: q98's — one narrow decode pass, TakeOrdered only.
    QueryDef.sql(
      "q224_wav_g711_features",
      """WITH c AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS b
        |  FROM embeddings),
        |s AS (SELECT vec_id,
        |  CASE WHEN vec_id % 2 = 0 THEN
        |    list_transform(b, v ->
        |      CASE WHEN (255 - v) >= 128 THEN -1 ELSE 1 END *
        |      (((((255 - v) % 16) * 8 + 132) << (((255 - v) // 16) % 8)) - 132))
        |  ELSE
        |    list_transform(b, v ->
        |      CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
        |      CASE WHEN ((xor(v, 85) // 16) % 8) = 0
        |        THEN (xor(v, 85) % 16) * 16 + 8
        |        ELSE ((xor(v, 85) % 16) * 16 + 264)
        |          << (((xor(v, 85) // 16) % 8) - 1) END)
        |  END AS smp
        |  FROM c)
        |SELECT vec_id AS id,
        |  CAST(vec_id % 2 = 0 AS BOOLEAN) AS ulaw,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(len(smp) AS INTEGER) AS n_samples,
        |  round(sqrt(list_reduce(list_transform(smp, v -> CAST(v AS DOUBLE) * v),
        |    (a, b) -> a + b) / len(smp)), 4) AS rms,
        |  CAST(list_reduce(list_transform(smp, v -> abs(v)),
        |    (a, b) -> greatest(a, b)) AS INTEGER) AS peak
        |FROM s ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsG711Wav(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.wavFeatures(media).toDF()
        .select(col("id"), (col("id") % 2 === 0).as("ulaw"),
          col("sample_rate"), col("n_samples"),
          round(col("rms"), 4).as("rms"), col("peak"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // BMP DECODE (q226, r16) — the remaining uncompressed raster format
    // a real crawl carries (screenshots, scans, legacy galleries). The
    // corpus alternates profiles by id parity: even ids 8-bit palette
    // (identity-gray BGRA table), odd ids 24-bit BGR — one query proves
    // both pixel layouts plus the decode hazards the format is made of
    // (bottom-up row order, 4-byte row stride padding: 8 px rows land
    // off-stride at BOTH depths, BGR sample order). BMP is
    // uncompressed, so the oracle replays the pixel arithmetic straight
    // off the embedding; the codec is cross-pinned against the JDK's
    // independent ImageIO BMP implementation in BmpCodecSpec (both
    // directions, top-down variant, malformed rejects). Scale shape:
    // one narrow mapPartitions decode pass — media bytes never shuffle.
    QueryDef.sql(
      "q226_bmp_features",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  CAST(vec_id % 2 = 0 AS BOOLEAN) AS palette,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity,
        |  CAST(list_aggregate(p, 'min') AS INTEGER) AS min_intensity,
        |  CAST(list_aggregate(p, 'max') AS INTEGER) AS max_intensity
        |FROM px ORDER BY id ASC LIMIT 100""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsBmpMixedDepth(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.imageFeaturesCoded(media).toDF()
        .select(col("id"), (col("id") % 2 === 0).as("palette"),
          col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"),
          col("min_intensity"), col("max_intensity"))
        .orderBy(col("id").asc)
        .limit(100)
    },

    // ------------------------------------------------------------------
    // WEBDATASET SHARD INGEST (q228, r16) — multimodal training sets
    // ship as plain `.tar` shards of ADJACENT members per sample
    // ({key}.jpg + {key}.json), streamed sequentially at training time
    // (the WebDataset convention). The fixture builds 8 real USTAR
    // shards via sources.warc.TarIO (checksummed headers; the format is
    // cross-validated against Python's independent stdlib tarfile both
    // directions, TarIOSpec + tools/gen_tar_fixture.py); the MEASURED
    // path is the training-side ingest: binaryFile scan → per-shard
    // member walk → adjacent-pair association (stem equality enforced
    // loudly) → REAL JPEG decode of the .jpg member + declarative JSON
    // field extraction from the .json member. Block-constant JPEG
    // round-trips exactly (q203), so the oracle replays pixels off the
    // embedding and the label off id arithmetic. Scale shape: shards
    // are the scan unit, one narrow flatMap, payloads never shuffle,
    // TakeOrdered only.
    QueryDef.sql(
      "q228_webdataset_shard_ingest",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS INTEGER)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id,
        |  'c' || CAST(vec_id % 10 AS VARCHAR) AS label,
        |  CAST(64 AS INTEGER) AS width,
        |  round(CAST(list_reduce(p, (a, b) -> a + b) AS DOUBLE) / len(p), 4)
        |    AS mean_intensity
        |FROM px ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.warc.TarIO
      // ---- fixture construction (not the measured path): 8 real USTAR
      // shards in a UNIQUE per-JVM directory (concurrent processes never
      // share a path), built on the DRIVER so the query is cluster-safe
      // (executors need not share the driver filesystem). The collect is
      // fixture-only and bounded by the embeddings table; the measured
      // path below never collects. Content is a pure function of `dir`,
      // so graft.queries.FixtureCache builds it ONCE per JVM — bench's
      // two timed passes measure the ingest, not the scaffolding.
      val fixPath = graft.queries.FixtureCache.dir(s"wds|$dir") { fixPath =>
        val jpegById = Multimodal.embeddingsAsJpeg(
            Tables.spread(s, Tables.load(s, dir, "embeddings"))).toDF()
          .select(col("id"), col("bytes"))
          .collect()
          .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
          .sortBy(_._1)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val writes = jpegById.groupBy(_._1 % 8).toSeq.map { case (g, items) =>
          Future {
            val entries = items.toSeq.flatMap { case (id, jpg) =>
              val stem = f"$id%012d"
              Seq(s"$stem.jpg" -> jpg,
                s"$stem.json" ->
                  s"""{"id":$id,"label":"c${id % 10}"}""".getBytes("UTF-8"))
            }
            java.nio.file.Files.write(
              java.nio.file.Paths.get(fixPath, s"part-$g.tar"),
              TarIO.writeTar(entries))
            ()
          }
        }
        Await.result(Future.sequence(writes), Duration.Inf)
        ()
      }
      // ---- the measured path: scan shards, walk members, pair, decode
      s.read.format("binaryFile").load(fixPath)
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          TarIO.readTar(bytes).grouped(2).map { pair =>
            require(pair.size == 2, "odd member count in shard")
            val Seq(img, meta) = pair
            val stem = img.name.stripSuffix(".jpg")
            require(img.name.endsWith(".jpg") &&
              meta.name == s"$stem.json",
              s"unpaired members ${img.name} / ${meta.name}")
            val r = graft.functions.ImageCodecs.decodeJpeg(img.bytes)
            var sum = 0L; var i = 0
            while (i < r.pixels.length) { sum += r.pixels(i); i += 1 }
            (stem.toLong, new String(meta.bytes, "UTF-8"), r.width,
              sum.toDouble / r.pixels.length)
          }
        }
        .toDF("sid", "meta", "width", "mean_raw")
        // loud cross-check: the json member's id must match the stem.
        // when() guarantees the error branch only evaluates on mismatch
        // (a bare `cond || raise_error` would rely on Or evaluation
        // order, which the optimizer does not promise)
        .filter(when(
          get_json_object(col("meta"), "$.id").cast("long") === col("sid"),
          lit(true)).otherwise(raise_error(
            lit("webdataset: json id diverges from member stem"))))
        .select(col("sid").as("id"),
          get_json_object(col("meta"), "$.label").as("label"),
          col("width"), round(col("mean_raw"), 4).as("mean_intensity"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // MP4 / ISO-BMFF CONTAINER WALK + MJPEG SCENE CUTS (q229, r17) —
    // the real-world video container a crawl ships (the surface stopped
    // at Y4M and animated GIF before; no user has crawl video in
    // either). Each embedding renders as a REAL isom file — ftyp /
    // mdat / moov with the full sample table — carrying four 32×32
    // MJPEG frames (one constant 8×8 block per embedding value, the
    // q203 block-constant exactness); framings alternate per id (r18)
    // between the monolithic-moov layout and the FRAGMENTED
    // moof/traf/trun layout real web video ships in (trun per-sample
    // sizes, trex default durations, tfdt decode times, keyframe flags
    // surfaced as n_sync: all-sync on moov files vs first-of-each-
    // fragment on fMP4); the MEASURED path is the
    // production ingest: box walk → stsd/stts/stsc/stsz/stco sample
    // resolution (or the fragment walk) → per-sample JPEG decode → the
    // q209 scene-cut kernel
    // on luma SUMS (integer-exact; threshold 7680 = q209's 120 × the
    // 64 pixels per block, so the corpus splits into the same mixed
    // cut counts). The stsd geometry is cross-checked against every
    // decoded frame and the duration comes from stts/mdhd — columns
    // that prove the CONTAINER was consumed, not just the frames.
    // Container resolution is pinned against an independent
    // python-struct golden in Mp4IOSpec. Scale shape: one narrow
    // mapPartitions, media bytes never shuffle, TakeOrdered only.
    QueryDef.sql(
      "q229_mp4_mjpeg_scene_cuts",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS BIGINT)))) AS p
        |  FROM embeddings),
        |sums AS (SELECT vec_id,
        |    list_transform(generate_series(0, 3), f ->
        |      64 * list_reduce(list_transform(generate_series(1, 16),
        |        i -> p[16 * f + i]), (a, b) -> a + b)) AS fs
        |  FROM px)
        |SELECT vec_id AS id, CAST(32 AS INTEGER) AS width,
        |  CAST(4 AS INTEGER) AS n_frames,
        |  CAST(0.16 AS DOUBLE) AS duration_s,
        |  CAST(len(list_filter(generate_series(1, 3),
        |    f -> abs(fs[f + 1] - fs[f]) >= 7680)) AS BIGINT) AS n_cuts,
        |  CAST(greatest(abs(fs[2] - fs[1]), abs(fs[3] - fs[2]),
        |    abs(fs[4] - fs[3])) AS BIGINT) AS max_delta,
        |  CAST(CASE WHEN vec_id % 2 = 0 THEN 4 ELSE 2 END AS BIGINT) AS n_sync
        |FROM sums ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      val media = Multimodal.embeddingsAsMp4(
        Tables.spread(s, Tables.load(s, dir, "embeddings")))
      Multimodal.mp4SceneCuts(media, sumDeltaThreshold = 7680L).toDF()
        .select(col("id"), col("width"), col("n_frames"), col("duration_s"),
          col("n_cuts"), col("max_delta"), col("n_sync"))
        .orderBy(col("id").asc)
        .limit(200)
    },

    // ------------------------------------------------------------------
    // WEBM / MATROSKA (EBML) CONTAINER WALK (q234, r19) — real web
    // video is fMP4 (q229) AND WebM: VP8/VP9 + Opus ship in EBML. Each
    // embedding renders as a REAL webm file — EBML header, Info,
    // Tracks (V_VP9 320x180), two Clusters of SimpleBlocks whose sizes
    // and keyframe flags derive from the quantized embedding — and the
    // MEASURED path is the metadata walk a crawl pipeline runs on
    // video it cannot decode: VINT parse → Segment → track resolution
    // → cluster-relative block times → keyframe table. Codec payloads
    // are deterministic opaque bytes by design (no VP9 encoder
    // exists here or in any crawl walker); what the oracle checks is
    // that the CONTAINER round-trips every size/time/flag exactly.
    // The parser itself is pinned against an independent python-EBML
    // golden (WebmIOSpec: both keyframe conventions, unknown-size
    // streaming Segments, lacing rejects). Scale shape: one narrow
    // mapPartitions, media bytes never shuffle, TakeOrdered only.
    QueryDef.sql(
      "q234_webm_container_walk",
      """WITH px AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      greatest(0, least(255,
        |        CAST(floor((CAST(x AS DOUBLE) + 1.0) * 127.5) AS BIGINT)))) AS p
        |  FROM embeddings)
        |SELECT vec_id AS id, 'V_VP9' AS codec,
        |  CAST(320 AS INTEGER) AS width,
        |  CAST(4 AS BIGINT) AS n_blocks,
        |  CAST(1 + len(list_filter([p[17], p[33], p[49]],
        |    v -> v >= 128)) AS BIGINT) AS n_key,
        |  CAST(256 + p[1] + p[17] + p[33] + p[49] AS BIGINT) AS video_bytes,
        |  CAST(120 AS BIGINT) AS last_ts,
        |  CAST(160.0 AS DOUBLE) AS duration_ticks
        |FROM px ORDER BY id ASC LIMIT 200""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.sources.video.WebmIO
      import graft.sources.video.WebmIO.{WBlock, WTrack}
      Tables.spread(s, Tables.load(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .mapPartitions(_.map { case (id, emb) =>
          val p = emb.map(x => math.max(0L, math.min(255L,
            math.floor((x + 1.0) * 127.5).toLong)))
          // block i: size 64 + p(16i), keyframe at 0 and wherever the
          // frame's lead byte crosses the cut threshold
          val blocks = (0 until 4).map { i =>
            WBlock(1, i.toLong * 40, i == 0 || p(16 * i) >= 128L,
              Array.fill[Byte]((64 + p(16 * i)).toInt)((i + 1).toByte))
          }
          val webm = WebmIO.writeWebm(
            Seq(WTrack(1, 1, "V_VP9", width = 320, height = 180)),
            blocks, durationTicks = 160.0, blocksPerCluster = 2)
          // the measured walk: EBML parse back out of the real bytes
          val doc = WebmIO.readWebm(webm)
          val v = doc.tracks.head
          require(doc.docType == "webm" && v.height == 180 &&
            v.blockTimes.toSeq == Seq(0L, 40L, 80L, 120L),
            s"vec $id: EBML walk diverged")
          (id, v.codecId, v.width, v.blockSizes.length.toLong,
            v.blockKey.count(identity).toLong,
            v.blockSizes.map(_.toLong).sum, v.blockTimes.max,
            doc.durationTicks)
        })
        .toDF("id", "codec", "width", "n_blocks", "n_key", "video_bytes",
          "last_ts", "duration_ticks")
        .orderBy(col("id").asc)
        .limit(200)
    }
  )
}

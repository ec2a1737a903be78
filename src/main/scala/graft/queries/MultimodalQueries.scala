package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** Oracle coverage for the multimodal binary-column operators. Image
  * payloads are REAL PNG/JPEG bytes generated with dimensions derived
  * arithmetically from the id ([[graft.operators.ImageCodec]]), audio
  * payloads are REAL RIFF/WAVE or MPEG-1 Layer III bytes with
  * rate/frames likewise id-derived ([[graft.operators.AudioCodec]],
  * [[graft.operators.Mp3Codec]]), and half the video payloads are REAL
  * ISO BMFF boxes ([[graft.operators.Mp4Codec]]): DuckDB cannot parse
  * the bytes, but it can predict what a correct decode must recover,
  * so m1/m4 green means the real header/frame/box parses really ran.
  * The remaining video payloads stay document text bytes (ASCII, so
  * byte and character offsets coincide and DuckDB recomputes the stub
  * codec exactly — the degrade path stays oracle-covered too).
  */
object MultimodalQueries {

  val q: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1 — metadata extraction over binary payloads (mapPartitions
    // path). Image rows carry REAL PNG/JPEG bytes whose dimensions the
    // oracle predicts from the id formula; audio rows REAL WAV or MP3
    // bytes and half the video rows REAL MP4 boxes whose durations
    // (and MP4 dims) it predicts the same way — a green row proves the
    // header/frame/box parses recovered them. The oracle cannot recompute
    // n_bytes/checksum of encoded payloads, so the projection keeps
    // the decode-verifiable columns (full schema is spec-checked in
    // DiscoverSpec/MultimodalSpec).
    "m1_media_metadata" -> ((s, d) => {
      Multimodal.extractMetadata(Multimodal.mixedMedia(s, d))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("duration_ms"))
        .orderBy(col("media_id"))
    }),

    // M2 — frame sampling: one row per sampled frame
    "m2_frame_samples" -> ((s, d) => {
      Multimodal.sampleFrames(Multimodal.syntheticMedia(s, d),
        strideMs = 1000, maxFrames = 5)
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // M3 — payload → fixed-dim feature vector (embedding bridge).
    // Features are exact multiples of 1/128; compare ×128 as ints so no
    // decimal formatting can diverge between engines.
    "m3_media_features" -> ((s, d) => {
      Multimodal.extractFeatures(Multimodal.syntheticMedia(s, d), dim = 8)
        .select(col("media_id"),
          array_join(transform(col("features"),
            f => (f * 128).cast("int")), "|").as("features"))
        .orderBy(col("media_id"))
    }),

    // M5 — REAL pixel-content feature extraction: per-channel sums of
    // the decoded raster. Restricted to the PNG rows (lossless — JPEG
    // pixel values aren't arithmetically predictable), where the
    // oracle recomputes the render formula sums per pixel: a green row
    // proves the decoder parsed actual pixel DATA, not just headers.
    "m5_image_stats" -> ((s, d) => {
      Multimodal.imageStats(
        Multimodal.syntheticImages(s, d).filter(col("media_id") % 2 === 0))
        .orderBy(col("media_id"))
    }),

    // M6 — REAL video frame decode: uncompressed-AVI payloads walked
    // chunk by chunk, every frame's raw DIB raster (bottom-up rows,
    // 4-byte stride, BGR) summed per channel. The oracle recomputes
    // the render formula per pixel per frame, so a green row proves
    // actual video SAMPLE decoding — the path that was a stub while
    // only containers (MP4 boxes) were parsed.
    "m6_video_frames" -> ((s, d) => {
      Multimodal.videoFrameStats(Multimodal.syntheticAvis(s, d))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // M10 — scene-change detection over the REAL decoded video
    // frames: per-media lag window on m6's channel sums, integer
    // per-pixel delta threshold (34·w·h across the three channels) —
    // the shot-boundary primitive of video curation pipelines, all
    // integer arithmetic so the oracle replays it exactly.
    "m10_scene_cuts" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("media_id")).orderBy(col("frame_no"))
      Multimodal.videoFrameStats(Multimodal.syntheticAvis(s, d))
        .withColumn("delta",
          abs(col("r_sum") - lag(col("r_sum"), 1).over(w)) +
            abs(col("g_sum") - lag(col("g_sum"), 1).over(w)) +
            abs(col("b_sum") - lag(col("b_sum"), 1).over(w)))
        .filter(col("delta").isNotNull)
        .select(col("media_id"), col("frame_no"),
          col("delta").cast("bigint").as("delta"),
          (col("delta") > col("width").cast("long") *
            col("height") * 34L).as("is_cut"))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // M4 — payload → payload resize with refreshed metadata. Image rows
    // take the real path (decode → aspect-fit scale → re-encode PNG →
    // re-decode): the reported dims are read back from the emitted
    // bytes, and the oracle recomputes the integer aspect-fit from the
    // generation formula. Audio/video rows keep the stub truncate.
    "m4_media_resize" -> ((s, d) => {
      // fanOut (guide §2.5 unsplittable-input remedy): the decode →
      // scale → re-encode round-trip is the row's whole cost and the
      // single-row-group scan runs it on one task otherwise (measured
      // 2x at sf0.1). Applied at the consumer, not in the generators:
      // multi-action consumers (the e7/e9 gates) measured slower with
      // fanned 32-partition checkpoints.
      Multimodal.resize(
          graft.util.Tables.fanOut(Multimodal.mixedMedia(s, d),
            "media_id"), 320, 240)
        .select(col("media_id"), col("kind"), col("width"), col("height"))
        .orderBy(col("media_id"))
    }),

    // M7 — REAL audio sample decode: every WAV payload's 16-bit PCM
    // stream read back out of the RIFF data chunk, summed as squared
    // amplitudes per 100-sample window. The oracle recomputes each
    // window from the synthetic sample formula
    // ((id·31 + i·7) mod 251 − 125), so a green row proves actual
    // sample-level audio decoding — the DSP analog of m5/m6.
    "m7_audio_energy" -> ((s, d) => {
      Multimodal.audioEnergy(Multimodal.syntheticWavs(s, d), 100)
        .orderBy(col("media_id"), col("window_idx"))
    }),

    // M8 — image near-dup detection over REAL decoded pixels: PNG
    // variant family → dHash64 perceptual hash → banded Hamming pairs.
    // The oracle recomputes every grid luminance from the render
    // formula, rebuilds the 64 bits, replays the 4×16 banding AND the
    // exact Hamming filter — a green row proves decode, hash, and
    // pairing end-to-end.
    "m8_phash_neardup" -> ((s, d) => {
      Dedup.fingerprintNearDupPairs(
        Multimodal.imagePhash(Multimodal.syntheticVariantImages(s, d)),
        "media_id", "phash", bands = 4, maxHamming = 16)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // M9 — audio near-dup detection over REAL decoded samples: WAV
    // variant family → 64-bit energy-delta fingerprint → banded
    // Hamming pairs, completing the text/image/audio fingerprint
    // triad. The oracle recomputes every window energy from the
    // variant sample formula, rebuilds the bits, and replays banding +
    // Hamming — integer arithmetic end to end.
    "m9_audio_neardup" -> ((s, d) => {
      Dedup.fingerprintNearDupPairs(
        Multimodal.audioFingerprint(Multimodal.syntheticVariantWavs(s, d)),
        "media_id", "afp", bands = 4, maxHamming = 16)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // E9 — the exact-confirmation image ingest gate as a driver-checked
    // row (the gate is a plain stateless projection, so the batch
    // evaluation IS the streaming semantics): arriving images
    // (media_id%5=0) survive iff no lake image (media_id%5=1 — a
    // sparser slice, so some arriving groups have no lake twin and
    // the row exercises keeps AND drops) shares
    // a dHash band key within Hamming 16. The oracle replays m8's
    // decode→dHash→banding→Hamming machinery across the split.
    "e9_phash_gate" -> ((s, d) => graft.util.Iter.scoped { scope =>
      // materialized: the render→PNG→decode→dHash pass (the expensive
      // per-row work) feeds the lake key collection AND the batch
      // projection, each its own action inside the gate — left live it
      // runs 3x; the checkpoint is (media_id, phash), 16 bytes/row
      val all = scope.materialize(
        Multimodal.imagePhash(Multimodal.syntheticVariantImages(s, d)))
      graft.streaming.IngestGate.phashGateExact(
        all.filter(col("media_id") % 5 === 0),
        all.filter(col("media_id") % 5 === 1),
        "phash", bands = 4, maxDist = 16)
        .select(col("media_id"))
        .orderBy(col("media_id"))
    }),

    // E7 — the candidate-level BLOOM image gate on e9's split (the
    // e-family promotion convention): the lake's dHash band keys
    // compact to the production Bloom and an arriving image drops on
    // ANY band collision, no Hamming confirmation. The oracle replays
    // the band-collision cut exactly; Spark's BloomFilter is
    // deterministic and at fpp = 1e-6 no false positive flips a
    // verdict on this corpus, so a driver mismatch is a real gate
    // regression, not Bloom noise.
    "e7_phash_gate" -> ((s, d) => graft.util.Iter.scoped { scope =>
      // materialized for the same reason as e9: the gate's key count,
      // Bloom build, and batch projection are three actions over the
      // same expensive image-derivation frame
      val all = scope.materialize(
        Multimodal.imagePhash(Multimodal.syntheticVariantImages(s, d)))
      graft.streaming.IngestGate.phashGate(
        all.filter(col("media_id") % 5 === 0),
        all.filter(col("media_id") % 5 === 1),
        "phash", bands = 4)
        .select(col("media_id"))
        .orderBy(col("media_id"))
    })
  )

  /** Shared oracle prefix for the image-gate rows (e7/e9): rebuild
    * every synthetic image's dHash bits from the variant render
    * formula and fold them into the 4-band keys — identical to m8's
    * machinery, split-agnostic. */
  private val phashBitsSql: String =
    """WITH img AS (
      |  SELECT doc_id AS id, doc_id // 9 AS gid, doc_id % 9 AS var,
      |    (doc_id // 9) % 57 + 8 AS w, (doc_id // 9) % 43 + 8 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |grid AS (SELECT unnest(generate_series(0, 7)) AS j),
      |cols AS (SELECT unnest(generate_series(0, 7)) AS i),
      |bits AS (
      |  SELECT id, j, i,
      |    CAST((j*8 + i) // 16 AS INT) AS band,
      |    CAST((j*8 + i) % 16 AS INT) AS pos,
      |    CASE WHEN
      |      (gid*31 + (((i+1)*w)//9)*7 + ((j*h)//8)*13
      |        + (((i+1)*w)//9)*((j*h)//8)*(gid%11)
      |        + CASE WHEN (j*h)//8 < 2
      |            THEN var*37*(((i+1)*w)//9) ELSE 0 END) % 256
      |      >
      |      (gid*31 + ((i*w)//9)*7 + ((j*h)//8)*13
      |        + ((i*w)//9)*((j*h)//8)*(gid%11)
      |        + CASE WHEN (j*h)//8 < 2
      |            THEN var*37*((i*w)//9) ELSE 0 END) % 256
      |    THEN 1 ELSE 0 END AS bit
      |  FROM img CROSS JOIN grid CROSS JOIN cols),
      |keys AS (
      |  SELECT id, band, CAST(sum(bit * (1 << pos)) AS BIGINT) AS key
      |  FROM bits GROUP BY 1, 2),
      |""".stripMargin

  val sql: Map[String, String] = Map(
    "m1_media_metadata" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS s
        |  FROM documents)
        |SELECT media_id,
        |  CASE WHEN media_id % 3 = 0 THEN
        |         CASE WHEN media_id % 2 = 0 THEN 'image/png'
        |              ELSE 'image/jpeg' END
        |       WHEN media_id % 6 = 1 THEN 'audio/wav'
        |       WHEN media_id % 6 = 4 THEN 'audio/mpeg'
        |       WHEN media_id % 6 = 2 THEN 'video/mp4'
        |       ELSE 'video' END AS kind,
        |  CAST(CASE WHEN media_id % 3 = 0 THEN media_id % 57 + 8
        |            WHEN media_id % 6 = 2 THEN media_id % 640 + 16
        |            WHEN media_id % 6 = 5 THEN s % 1920 + 1
        |            ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN media_id % 3 = 0 THEN media_id % 43 + 8
        |            WHEN media_id % 6 = 2 THEN media_id % 360 + 16
        |            WHEN media_id % 6 = 5 THEN (s // 1920) % 1080 + 1
        |            ELSE 0 END AS INT) AS height,
        |  CAST(CASE WHEN media_id % 3 = 0 THEN 0
        |            WHEN media_id % 6 = 1 THEN
        |              ((500 + media_id % 4000) * 1000)
        |                // (8000 + (media_id % 5) * 2000)
        |            WHEN media_id % 6 = 4 THEN
        |              ((20 + media_id % 80) * 1152 * 1000)
        |                // (CASE (media_id // 6) % 3 WHEN 0 THEN 44100
        |                   WHEN 1 THEN 48000 ELSE 32000 END)
        |            WHEN media_id % 6 = 2 THEN
        |              ((1000 + media_id % 9000) * 1000)
        |                // (600 + ((media_id // 6) % 3) * 200)
        |            ELSE n_bytes * 7 END AS BIGINT) AS duration_ms
        |FROM m ORDER BY media_id""".stripMargin,

    "m2_frame_samples" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents),
        |f AS (
        |  SELECT media_id, text, len,
        |    least(5, greatest(1, CAST((len * 7) // 1000 AS INT))) AS n
        |  FROM m),
        |g AS (
        |  SELECT media_id, text, len,
        |    unnest(generate_series(0, n - 1)) AS i
        |  FROM f)
        |SELECT media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(i AS BIGINT) * 1000 AS offset_ms,
        |  ascii(substr(text, CAST(i % len AS INT) + 1, 1)) / 128.0 AS feature
        |FROM g ORDER BY media_id, frame_idx""".stripMargin,

    "m3_media_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents)
        |SELECT media_id,
        |  array_to_string(list_transform(generate_series(0, 7), i ->
        |    CAST(ascii(substr(text, CAST((i * 7) % len AS INT) + 1, 1)) AS VARCHAR)),
        |    '|') AS features
        |FROM m ORDER BY media_id""".stripMargin,

    "m5_image_stats" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 57 + 8 AS INT) AS w,
        |    CAST(doc_id % 43 + 8 AS INT) AS h
        |  FROM documents WHERE doc_id % 6 = 0),
        |xs AS (SELECT media_id, w, h,
        |         unnest(generate_series(0, w - 1)) AS xg FROM m),
        |px AS (SELECT media_id, w, h, xg,
        |         unnest(generate_series(0, h - 1)) AS yg FROM xs)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum((media_id * 31 + xg * 7 + yg * 13) % 256) AS BIGINT) AS r_sum,
        |  CAST(sum((xg * 5) % 256) AS BIGINT) AS g_sum,
        |  CAST(sum((yg * 3) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY media_id, w, h ORDER BY media_id""".stripMargin,

    "m6_video_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 24 + 8 AS INT) AS w,
        |    CAST(doc_id % 18 + 6 AS INT) AS h,
        |    CAST(doc_id % 4 + 2 AS INT) AS nf
        |  FROM documents WHERE doc_id % 6 = 2),
        |fr AS (SELECT media_id, w, h,
        |         unnest(generate_series(0, nf - 1)) AS f FROM m),
        |xs AS (SELECT media_id, w, h, f,
        |         unnest(generate_series(0, w - 1)) AS xg FROM fr),
        |px AS (SELECT media_id, w, h, f, xg,
        |         unnest(generate_series(0, h - 1)) AS yg FROM xs)
        |SELECT media_id, CAST(f AS INT) AS frame_no,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum((media_id * 31 + f * 17 + xg * 7 + yg * 13) % 256) AS BIGINT) AS r_sum,
        |  CAST(sum((f * 11 + xg * 5) % 256) AS BIGINT) AS g_sum,
        |  CAST(sum((f * 19 + yg * 3) % 256) AS BIGINT) AS b_sum
        |FROM px GROUP BY media_id, f, w, h
        |ORDER BY media_id, frame_no""".stripMargin,

    "m4_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 57 + 8 AS INT) AS w,
        |    CAST(doc_id % 43 + 8 AS INT) AS h
        |  FROM documents)
        |SELECT media_id,
        |  CASE WHEN media_id % 3 = 0 THEN 'image/png'
        |       WHEN media_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(CASE WHEN media_id % 3 <> 0 THEN 320
        |            WHEN w * 240 >= h * 320 THEN 320
        |            ELSE (w * 240) // h END AS INT) AS width,
        |  CAST(CASE WHEN media_id % 3 <> 0 THEN 240
        |            WHEN w * 240 >= h * 320 THEN (h * 320) // w
        |            ELSE 240 END AS INT) AS height
        |FROM m ORDER BY media_id""".stripMargin,

    "m7_audio_energy" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id, 500 + doc_id % 4000 AS frames
        |  FROM documents WHERE doc_id % 6 = 1),
        |s AS (
        |  SELECT media_id, CAST(i // 100 AS INT) AS window_idx,
        |    (media_id * 31 + i * 7) % 251 - 125 AS v
        |  FROM (SELECT media_id, unnest(range(frames)) AS i FROM a))
        |SELECT media_id, window_idx, CAST(count(*) AS INT) AS n_frames,
        |  CAST(sum(v * v) AS BIGINT) AS sumsq
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // m10: m6's per-frame sums + LAG, integer threshold
    "m10_scene_cuts" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 24 + 8 AS INT) AS w,
        |    CAST(doc_id % 18 + 6 AS INT) AS h,
        |    CAST(doc_id % 4 + 2 AS INT) AS nf
        |  FROM documents WHERE doc_id % 6 = 2),
        |fr AS (SELECT media_id, w, h,
        |         unnest(generate_series(0, nf - 1)) AS f FROM m),
        |xs AS (SELECT media_id, w, h, f,
        |         unnest(generate_series(0, w - 1)) AS xg FROM fr),
        |px AS (SELECT media_id, w, h, f, xg,
        |         unnest(generate_series(0, h - 1)) AS yg FROM xs),
        |sums AS (
        |  SELECT media_id, f, w, h,
        |    sum((media_id * 31 + f * 17 + xg * 7 + yg * 13) % 256) AS r_sum,
        |    sum((f * 11 + xg * 5) % 256) AS g_sum,
        |    sum((f * 19 + yg * 3) % 256) AS b_sum
        |  FROM px GROUP BY media_id, f, w, h),
        |d AS (
        |  SELECT media_id, f AS frame_no, w, h,
        |    abs(r_sum - lag(r_sum) OVER win) +
        |    abs(g_sum - lag(g_sum) OVER win) +
        |    abs(b_sum - lag(b_sum) OVER win) AS delta
        |  FROM sums WINDOW win AS (PARTITION BY media_id ORDER BY f))
        |SELECT media_id, CAST(frame_no AS INT) AS frame_no,
        |  CAST(delta AS BIGINT) AS delta,
        |  delta > CAST(w AS BIGINT) * h * 34 AS is_cut
        |FROM d WHERE delta IS NOT NULL
        |ORDER BY media_id, frame_no""".stripMargin,

    // m8: full replay of decode → dHash → banding → Hamming. Grid
    // luminances come straight from the variantLum formula (greyscale,
    // so ITU-601 luminance == the rendered value); the 64 bits are
    // regrouped into the same 4×16 band keys the Spark side shuffles
    // on, and the exact Hamming is the per-bit disagreement count —
    // integer-only arithmetic end to end.
    "m8_phash_neardup" ->
      """WITH img AS (
        |  SELECT doc_id AS id, doc_id // 9 AS gid, doc_id % 9 AS var,
        |    (doc_id // 9) % 57 + 8 AS w, (doc_id // 9) % 43 + 8 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |grid AS (SELECT unnest(generate_series(0, 7)) AS j),
        |cols AS (SELECT unnest(generate_series(0, 7)) AS i),
        |bits AS (
        |  SELECT id, j, i,
        |    CAST((j*8 + i) // 16 AS INT) AS band,
        |    CAST((j*8 + i) % 16 AS INT) AS pos,
        |    CASE WHEN
        |      (gid*31 + (((i+1)*w)//9)*7 + ((j*h)//8)*13
        |        + (((i+1)*w)//9)*((j*h)//8)*(gid%11)
        |        + CASE WHEN (j*h)//8 < 2
        |            THEN var*37*(((i+1)*w)//9) ELSE 0 END) % 256
        |      >
        |      (gid*31 + ((i*w)//9)*7 + ((j*h)//8)*13
        |        + ((i*w)//9)*((j*h)//8)*(gid%11)
        |        + CASE WHEN (j*h)//8 < 2
        |            THEN var*37*((i*w)//9) ELSE 0 END) % 256
        |    THEN 1 ELSE 0 END AS bit
        |  FROM img CROSS JOIN grid CROSS JOIN cols),
        |keys AS (
        |  SELECT id, band, CAST(sum(bit * (1 << pos)) AS BIGINT) AS key
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM keys a JOIN keys b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT)
        |      AS hamming
        |  FROM cand c
        |  JOIN bits x ON x.id = c.id_a
        |  JOIN bits y ON y.id = c.id_b AND x.j = y.j AND x.i = y.i
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 16 ORDER BY id_a, id_b""".stripMargin,

    // m9: window energies from the variant sample formula (65 windows
    // of width frames//65; trailing samples excluded by construction),
    // bit k = E(k+1) > E(k), then the same band/Hamming replay as m8.
    // e9: m8's bit-formula replay, split arriving (%5=0) vs lake, NOT
    // EXISTS on (band collision AND hamming <= 16)
    "e9_phash_gate" -> (phashBitsSql +
      """p AS (
        |  SELECT DISTINCT a.id AS aid, l.id AS lid
        |  FROM keys a JOIN keys l ON a.band = l.band AND a.key = l.key
        |  WHERE a.id % 5 = 0 AND l.id % 5 = 1),
        |dropped AS (
        |  SELECT DISTINCT aid FROM (
        |    SELECT p.aid, p.lid,
        |      sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS h
        |    FROM p
        |    JOIN bits x ON x.id = p.aid
        |    JOIN bits y ON y.id = p.lid AND x.j = y.j AND x.i = y.i
        |    GROUP BY 1, 2)
        |  WHERE h <= 16)
        |SELECT id AS media_id FROM img
        |WHERE id % 5 = 0 AND id NOT IN (SELECT aid FROM dropped)
        |ORDER BY media_id""".stripMargin),

    // e7: e9's band-key replay with the candidate-level cut — an
    // arriving image drops on ANY band-key collision with the lake,
    // no Hamming confirmation (the Bloom gate's exact semantics)
    "e7_phash_gate" -> (phashBitsSql +
      """dropped AS (
        |  SELECT DISTINCT a.id AS aid
        |  FROM keys a JOIN keys l ON a.band = l.band AND a.key = l.key
        |  WHERE a.id % 5 = 0 AND l.id % 5 = 1)
        |SELECT id AS media_id FROM img
        |WHERE id % 5 = 0 AND id NOT IN (SELECT aid FROM dropped)
        |ORDER BY media_id""".stripMargin),

    "m9_audio_neardup" ->
      """WITH a AS (
        |  SELECT doc_id AS id, doc_id // 18 AS gid, (doc_id // 6) % 3 AS var,
        |    (1300 + (doc_id // 18) % 1000) // 65 AS w
        |  FROM documents WHERE doc_id % 6 = 1),
        |en AS (
        |  SELECT id, CAST(i // w AS INT) AS k, sum(v * v) AS energy
        |  FROM (
        |    SELECT id, w, i,
        |      ((gid*31 + i*7 + CASE WHEN i < 2*w THEN var*53*i ELSE 0 END)
        |        % 251) - 125 AS v
        |    FROM (SELECT id, gid, var, w, unnest(range(65 * w)) AS i
        |          FROM a))
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT e0.id, e0.k,
        |    CAST(e0.k // 16 AS INT) AS band, CAST(e0.k % 16 AS INT) AS pos,
        |    CASE WHEN e1.energy > e0.energy THEN 1 ELSE 0 END AS bit
        |  FROM en e0 JOIN en e1 ON e0.id = e1.id AND e1.k = e0.k + 1
        |  WHERE e0.k < 64),
        |keys AS (
        |  SELECT id, band, CAST(sum(bit * (1 << pos)) AS BIGINT) AS key
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM keys a JOIN keys b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |ham AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT)
        |      AS hamming
        |  FROM cand c
        |  JOIN bits x ON x.id = c.id_a
        |  JOIN bits y ON y.id = c.id_b AND x.k = y.k
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 16 ORDER BY id_a, id_b""".stripMargin
  )
}

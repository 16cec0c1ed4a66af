package graft

import org.apache.spark.sql.functions._

import graft.QueryShared._
import graft.util.Checkpoints.scoped

/** Query registry — LLM pipeline: image/audio/video decode, hashes, FLAC, box walks.
  *
  * Each entry is one [[Query]]; shared fixtures and oracle fragments live in [[QueryShared]]. */
object QueriesMultimodal {

  private[graft] val queries: Seq[Query] = Seq(

    // ext: multimodal binary-column plumbing — typed Dataset through the
    // batched mapPartitions decode path (stub codec, real plumbing)
    Query("q26_multimodal", (s, dir) => {
      import s.implicits._
      val media = ext.Multimodal
        .synthesizeFromText(Tables.load(s, dir, "documents"), "text", "doc_id")
        .as[ext.Multimodal.MediaRow]
      ext.Multimodal.decodeFeatures(media).toDF()
        .select(col("id"), col("nBytes"), col("digest"),
          round(col("brightness"), 6).as("brightness"))
    }, Seq(col("id")),
      """SELECT doc_id AS id,
         CAST(len(text) AS INT) AS nBytes,
         md5(text) AS digest,
         round(CAST(list_sum(list_transform(generate_series(1, len(text)),
           i -> ascii(substr(text, i, 1)))) AS DOUBLE) / len(text), 6) AS brightness
         FROM documents ORDER BY doc_id"""),


    // ext: REAL image decode (JDK ImageIO) — id-derived grayscale PNGs with
    // analytic pixel content, so the oracle verifies the DECODED width /
    // height / mean luminance in plain SQL (the stub path covers only
    // audio/video, q26)
    Query("q61_image_decode", (s, dir) => {
      val media = ext.Multimodal.synthesizeImages(
        Tables.load(s, dir, "documents"), "doc_id")
      ext.Multimodal.decodeFeatures(media).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("brightness"), 6).as("brightness"))
    }, Seq(col("id")),
      // decoded-image features: the synthesized PNG's pixel (x, y) is
      // (id*31 + x*7 + y*13) mod 256 over a (id%13+3) x (id%7+2) raster, so
      // the decoded mean luminance is this exact double-precision average
      """SELECT doc_id AS id,
           CAST(doc_id % 13 + 3 AS INT) AS width,
           CAST(doc_id % 7 + 2 AS INT) AS height,
           round(list_avg(flatten(list_transform(
             generate_series(0, CAST(doc_id % 7 + 2 AS INT) - 1),
             y -> list_transform(generate_series(0, CAST(doc_id % 13 + 3 AS INT) - 1),
               x -> CAST((doc_id * 31 + x * 7 + y * 13) % 256 AS DOUBLE))))), 6) AS brightness
         FROM documents ORDER BY doc_id"""),


    // ext: REAL image resize — decode → stride-2 nearest-neighbor →
    // re-encode PNG → decode again; the oracle recomputes the subsampled
    // synthetic raster analytically
    Query("q93_image_resize", (s, dir) => {
      val media = ext.Multimodal.synthesizeImages(
        Tables.load(s, dir, "documents"), "doc_id")
      ext.Multimodal.decodeFeatures(
        ext.Multimodal.resizeNearest(media, 2, 2)).toDF()
        .select(col("id"), col("width"), col("height"),
          round(col("brightness"), 6).as("brightness"))
    }, Seq(col("id")),
      // stride-2 nearest-neighbor subsample of the q61 synthetic raster:
      // output pixel (x, y) = source pixel (2x, 2y)
      """SELECT doc_id AS id,
           CAST(greatest((doc_id % 13 + 3) // 2, 1) AS INT) AS width,
           CAST(greatest((doc_id % 7 + 2) // 2, 1) AS INT) AS height,
           round(list_avg(flatten(list_transform(
             generate_series(0, CAST(greatest((doc_id % 7 + 2) // 2, 1) AS INT) - 1),
             y -> list_transform(
               generate_series(0, CAST(greatest((doc_id % 13 + 3) // 2, 1) AS INT) - 1),
               x -> CAST((doc_id * 31 + 2 * x * 7 + 2 * y * 13) % 256 AS DOUBLE))))), 6)
             AS brightness
         FROM documents ORDER BY doc_id"""),


    // ext: perceptual image near-dups — REAL decode → 60-bit aHash →
    // pigeonhole Hamming banding; the oracle recomputes the hash from
    // the analytic synthetic raster
    Query("q124_image_neardup", (s, dir) => scoped { sc =>
      val media = ext.Multimodal.synthesizeImages(
        Tables.load(s, dir, "documents"), "doc_id")
      // hammingNearDups reads its sketch frame three times — pin the
      // aHash table (16 bytes/row) so the PNG decode + hash pipeline
      // runs once, not per consumer
      val hashed = sc.pin(ext.Multimodal.aHash(media))
      ext.Dedup.hammingNearDups(hashed, "ahash", "id", maxHamming = 2)
    }, Seq(col("id_a"), col("id_b")),
      // analytic raster → 10x6 nearest samples → integer-exact mean
      // threshold → 60-bit hash → 3-chunk pigeonhole at maxHamming 2
      s"""WITH g AS (SELECT doc_id, CAST(doc_id % 13 + 3 AS BIGINT) AS w,
             CAST(doc_id % 7 + 2 AS BIGINT) AS h FROM documents),
         px AS (SELECT doc_id, k,
                 (doc_id * 31 + ((k % 10) * w // 10) * 7 +
                  ((k // 10) * h // 6) * 13) % 256 AS p
               FROM (SELECT doc_id, w, h,
                       unnest(generate_series(0, 59)) AS k FROM g)),
         tot AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS total
                 FROM px GROUP BY doc_id),
         hs AS (SELECT px.doc_id,
                 CAST(sum(CASE WHEN p * 60 > total
                   THEN CAST(1 AS BIGINT) << k
                   ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash
               FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id),
         b AS (SELECT doc_id, ahash, c,
                 (ahash >> (c * 20)) & 1048575 AS cv
               FROM hs, generate_series(0, 2) AS t(c)),
         cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                  FROM b l JOIN b r ON l.c = r.c AND l.cv = r.cv
                    AND l.doc_id < r.doc_id)
         SELECT id_a, id_b,
           CAST(bit_count(xor(a.ahash, b2.ahash)) AS BIGINT) AS hamming
         FROM cand JOIN hs a ON a.doc_id = cand.id_a
           JOIN hs b2 ON b2.doc_id = cand.id_b
         WHERE bit_count(xor(a.ahash, b2.ahash)) <= 2
         ORDER BY id_a, id_b"""),


    // ext: REAL PCM WAV decode — id-derived RIFF/WAVE blobs parsed back
    // (pure-JDK chunk walk); the oracle recomputes the analytic waveform
    Query("q178_audio_decode", (s, dir) => {
      val media = ext.Multimodal.synthesizeAudio(
        Tables.load(s, dir, "documents"), "doc_id")
      ext.Multimodal.audioFeatures(media)
        .select(col("id"), col("sampleRate").as("sample_rate"),
          col("channels"), col("nSamples").as("n_samples"),
          col("durationMs").as("duration_ms"),
          round(col("rms"), 6).as("rms"))
    }, Seq(col("id")),
      // analytic waveform replay: s(t) = (id·31 + t·7) mod 2048 − 1024,
      // exact integers — the sum of squares is order-free in doubles.
      // q183 decodes the SAME waveform from a real FLAC encoding (vs q178's
      // WAV), so both map to one analytic replay.
      oracleSqlAudioAnalytic),


    // ext: REAL MP4 container-metadata parse — pure-JDK box walk (ftyp
    // brand, mvhd duration/timescale, trak count): the pre-decode filter
    // a video pipeline runs; frame decode stays the documented stub
    Query("q179_video_meta", (s, dir) => {
      val media = ext.Multimodal.synthesizeVideo(
        Tables.load(s, dir, "documents"), "doc_id")
      ext.Multimodal.videoMeta(media)
        .select(col("id"), col("brand"), col("timescale"),
          col("duration"), col("durationMs").as("duration_ms"),
          col("nTracks").as("n_tracks"))
    }, Seq(col("id")),
      // analytic container replay: the parser must recover exactly the
      // id-derived mvhd/trak structure the synthesizer wrote
      """SELECT doc_id AS id, 'isom' AS brand, 600 AS timescale,
         CAST(((doc_id % 10) + 1) * 600 AS BIGINT) AS duration,
         CAST(((doc_id % 10) + 1) * 600 AS DOUBLE) / 600.0 * 1000.0
           AS duration_ms,
         CAST((doc_id % 3) + 1 AS INT) AS n_tracks
         FROM documents ORDER BY doc_id"""),


    // ext: REAL FLAC decode — pure-JDK lossless-audio codec (RFC 9639:
    // fixed-predictor frames, Rice residuals, CRC-8/16 + PCM-MD5
    // verified): the q178 waveform encoded for real and decoded back;
    // the oracle replays the analytic features from the id
    Query("q183_flac_decode", (s, dir) => {
      val media = ext.Flac.synthesizeFlacAudio(
        Tables.load(s, dir, "documents"), "doc_id")
      ext.Flac.flacFeatures(media)
        .select(col("id"), col("sampleRate").as("sample_rate"),
          col("channels"), col("nSamples").as("n_samples"),
          col("durationMs").as("duration_ms"),
          round(col("rms"), 6).as("rms"))
    }, Seq(col("id")),
      oracleSqlAudioAnalytic),
  )
}

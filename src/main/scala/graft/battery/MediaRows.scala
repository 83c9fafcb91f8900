package graft.battery

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

import Fixtures._

/** Multimodal rows: media metadata, decode and resize, and the image,
  * audio and video near-dup hashes.
  */
object MediaRows {
  /** The keyed-pixel gray value of `v` (the packed b, g, r bytes, each
    * shifted by the planted perturbation `dp`) — the (b+g+r)//3 of the
    * image and video hashes.
    */
  private val graySql: String =
    """((((v >> 8) & 255) + dp) % 256
              + (((v >> 16) & 255) + dp) % 256
              + (((v >> 24) & 255) + dp) % 256) // 3 AS gray"""

  /** The q126/q129 verify tail over `bands(doc_id, band, bucket)`:
    * band-collision candidates, Hamming distance from the band xors
    * (≡ the full-word popcount), kept at <= 3.
    */
  private val bandHammingSql: String =
    """cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.id_a, c.id_b,
             sum(bit_count(xor(a.bucket, b.bucket))) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.id_a
           JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
         FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b"""

  def rows: Seq[Row] = Seq(
    // ---- multimodal columns (north star) ----
    Row("q38_multimodal_meta", (s, d) =>
      Multimodal.documentMediaPipeline(s, t(s, d, "documents"))
        .select(col("media_id"), col("kind"), col("n_bytes"))
        .orderBy(col("media_id")),
      """SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
         FROM documents ORDER BY media_id"""),

    Row("q39_multimodal_decode", (s, d) => // full decode; oracle recomputes
      Multimodal.documentMediaPipeline(s, t(s, d, "documents")) // the byte fold
        .orderBy(col("media_id")),
      // Full cross-engine recompute of Multimodal.decode over text payloads:
      // the deterministic fallback is a 64-byte signed-int32 fold
      // (mix = mix*31 + signedByte, wrapping), and the kind=="image" BMP
      // branch reads little-endian i32 width/height at offsets 18/22 when the
      // payload starts with "BM". Bytes come from hex(encode(text)); int32
      // wraparound is emulated with ((x+2^31) mod 2^32 + 2^32) mod 2^32 - 2^31
      // and `mix >> 8` (arithmetic shift) as floor(mix / 256.0).
      """WITH raw AS (
           SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS len
           FROM documents),
         bytes AS (
           SELECT doc_id, len,
             list_transform(range(1, least(len, 64) + 1), i ->
               (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS ub,
             CASE WHEN len >= 26 THEN
               list_transform(range(1, 27), i ->
                 (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
                 + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1))
             END AS hdr
           FROM raw),
         mixed AS (
           SELECT doc_id, len, hdr,
             list_reduce(
               list_prepend(CAST(-1640531527 AS BIGINT),
                 list_transform(ub, b ->
                   CAST(CASE WHEN b > 127 THEN b - 256 ELSE b END AS BIGINT))),
               (acc, b) -> ((acc * 31 + b + 2147483648) % 4294967296
                 + 4294967296) % 4294967296 - 2147483648) AS mix
           FROM bytes),
         hdrparse AS (
           SELECT doc_id, len, mix,
             CASE WHEN hdr IS NOT NULL AND hdr[1] = 66 AND hdr[2] = 77 THEN
               struct_pack(
                 w := CASE WHEN hdr[19] + hdr[20]*256 + hdr[21]*65536
                          + hdr[22]*16777216 >= 2147483648
                   THEN hdr[19] + hdr[20]*256 + hdr[21]*65536
                     + hdr[22]*16777216 - 4294967296
                   ELSE hdr[19] + hdr[20]*256 + hdr[21]*65536
                     + hdr[22]*16777216 END,
                 h := CASE WHEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                          + hdr[26]*16777216 = 2147483648
                   THEN -1
                   ELSE abs(CASE WHEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                          + hdr[26]*16777216 >= 2147483648
                   THEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                     + hdr[26]*16777216 - 4294967296
                   ELSE hdr[23] + hdr[24]*256 + hdr[25]*65536
                     + hdr[26]*16777216 END) END)
             END AS bmp
           FROM mixed)
         SELECT doc_id AS media_id, 'image' AS kind, CAST(len AS BIGINT) AS n_bytes,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN bmp.w
             ELSE 160 + CAST(((mix % 1760) + 1760) % 1760 AS INT) END AS width,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN bmp.h
             ELSE 90 + CAST(((CAST(floor(mix / 256.0) AS BIGINT) % 990) + 990)
               % 990 AS INT) END AS height,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN 0
             ELSE 1000 + CAST((len * 40) % 600000 AS INT) END AS duration_ms
         FROM hdrparse ORDER BY media_id"""),

    // ---- REAL media decode under oracle: synthesize a to-spec WAV per
    // doc_id, parse it with the RIFF chunk walk, and let the oracle
    // recompute the expected metadata arithmetically ----
    Row("q60_multimodal_wav", (s, d) =>
      Multimodal.syntheticWavPipeline(s, t(s, d, "documents"), "doc_id")
        .select(col("media_id"), col("n_bytes"), col("duration_ms"))
        .orderBy(col("media_id")),
      // mirrors Multimodal.syntheticWavPipeline's parameter derivation and
      // the parser's duration formula (floor division); byteRate =
      // sampleRate * channels * 2 for 16-bit PCM
      """SELECT doc_id AS media_id,
           CAST(44 + data_bytes AS BIGINT) AS n_bytes,
           CAST((data_bytes * 1000) // (sample_rate * channels * 2) AS INT) AS duration_ms
         FROM (
           SELECT doc_id,
             8000 + (doc_id % 8) * 1000 AS sample_rate,
             1 + (doc_id % 2) AS channels,
             1000 + (doc_id % 50) * 100 AS data_bytes
           FROM documents)
         ORDER BY media_id"""),

    // ---- REAL media resize under oracle: synthesize a BMP per doc_id,
    // resize the pixel bytes (nearest-neighbor), and let the oracle
    // recompute the expected dimensions and byte count arithmetically ----
    Row("q64_multimodal_resize", (s, d) =>
      Multimodal.syntheticBmpResizePipeline(s, t(s, d, "documents"),
        "doc_id", maxW = 8, maxH = 8)
        .select(col("media_id"), col("width"), col("height"), col("n_bytes"))
        .orderBy(col("media_id")),
      // mirrors Multimodal.syntheticBmpResizePipeline: aspect-fit scale in
      // identical double arithmetic (so the floor lands the same side of any
      // ulp), 4-byte stride padding, 54-byte headers; scale >= 1 is the
      // never-upscale passthrough branch (exercised when doc_id % 32 = 0)
      """SELECT doc_id AS media_id,
           CASE WHEN scale >= 1.0 THEN w
                ELSE greatest(1, CAST(floor(w * scale) AS INT)) END AS width,
           CASE WHEN scale >= 1.0 THEN h
                ELSE greatest(1, CAST(floor(h * scale) AS INT)) END AS height,
           CAST(54 + (((CASE WHEN scale >= 1.0 THEN w
                ELSE greatest(1, CAST(floor(w * scale) AS INT)) END) * 3 + 3) // 4) * 4
             * (CASE WHEN scale >= 1.0 THEN h
                ELSE greatest(1, CAST(floor(h * scale) AS INT)) END) AS BIGINT) AS n_bytes
         FROM (
           SELECT doc_id, w, h,
             least(1.0, least(8.0 / w, 8.0 / h)) AS scale
           FROM (
             SELECT doc_id, 8 + doc_id % 32 AS w, 4 + doc_id % 16 AS h
             FROM documents))
         ORDER BY media_id"""),

    // perceptual image near-dup: synthesize a keyed BMP per doc (seed =
    // id/2 plants one-pixel-apart even/odd pairs), aHash the REAL pixel
    // bytes, band-join + popcount for Hamming pairs — every pixel, gray
    // value, hash bit and band bucket is integer arithmetic the oracle
    // replays from the id alone
    Row("q126_image_phash", (s, d) =>
      graft.operators.Multimodal.syntheticBmpHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      // perceptual image hash: replay the keyed-BMP pixel formula (pure
      // int64 arithmetic), the 8x8 nearest-neighbor sample grid, the
      // (b+g+r)//3 gray, the strict cell*64 > sum mean bits, the 16-bit
      // pigeonhole bands and the popcount verify — mirrors
      // Multimodal.syntheticBmpHashPipeline end to end without touching
      // a byte; hamming from 4 band xors ≡ the full-word popcount
      s"""WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             8 + (doc_id // 2) % 32 AS w, 4 + (doc_id // 2) % 16 AS h
           FROM documents),
         cells AS (
           SELECT p.doc_id, u2.j * 8 + u1.i AS idx,
             least(p.w - 1, (u1.i * p.w) // 8) AS sx,
             least(p.h - 1, (u2.j * p.h) // 8) AS sy,
             p.odd, p.seed
           FROM p,
             LATERAL (SELECT unnest(range(0, 8)) AS i) u1,
             LATERAL (SELECT unnest(range(0, 8)) AS j) u2),
         px AS (
           SELECT doc_id, idx,
             sx * 2654435761 + sy * 2246822519 + seed * 3266489917 AS v,
             CASE WHEN odd = 1 AND sx = 0 AND sy = 0 THEN 128 ELSE 0 END AS dp
           FROM cells),
         g AS (
           SELECT doc_id, idx,
             $graySql
           FROM px),
         bits AS (
           SELECT doc_id, idx,
             CASE WHEN gray * 64 > sum(gray) OVER (PARTITION BY doc_id)
               THEN 1 ELSE 0 END AS bit
           FROM g),
         bands AS (
           SELECT doc_id, idx // 16 AS band,
             CAST(sum(bit << CAST(idx % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, idx // 16),
         $bandHammingSql"""),

    // acoustic near-dup: synthesize a keyed 16-bit PCM WAV per doc (seed
    // = id/2 plants one-sample-apart even/odd pairs), energy-hash the
    // REAL sample bytes through the RIFF/PCM parse, band-join + popcount
    // for Hamming pairs — the audio twin of q126; every sample, frame
    // energy, hash bit and band bucket is integer arithmetic the oracle
    // replays from the id alone
    Row("q129_audio_fp", (s, d) =>
      graft.operators.Multimodal.syntheticWavHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      // q126's band/popcount CTEs over the acoustic energy hash: regenerate
      // every PCM sample from the id, bucket into 64 frames, threshold on
      // the 1/64 mean energy
      s"""WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             64 * (4 + (doc_id // 2) % 8) AS n
           FROM documents),
         smp AS (
           SELECT doc_id, odd, seed, n, unnest(range(0, n)) AS j FROM p),
         sv AS (
           SELECT doc_id, (j * 64) // n AS f,
             CASE WHEN odd = 1 AND j = 0
               THEN ((((j * 2654435761 + seed * 3266489917) >> 16) & 65535)
                     + 32768) % 65536
               ELSE ((j * 2654435761 + seed * 3266489917) >> 16) & 65535
             END AS s
           FROM smp),
         e AS (SELECT doc_id, f, sum(s) AS energy FROM sv GROUP BY doc_id, f),
         bits AS (
           SELECT doc_id, f,
             CASE WHEN energy * 64 > sum(energy) OVER (PARTITION BY doc_id)
               THEN 1 ELSE 0 END AS bit
           FROM e),
         bands AS (
           SELECT doc_id, f // 16 AS band,
             CAST(sum(bit << CAST(f % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, f // 16),
         $bandHammingSql"""),

    // video near-dup: synthesize a keyed uncompressed-24bpp AVI per doc
    // (seed = id/2 plants even/odd pairs differing by one pixel of
    // frame 0; 2-4 frames), per-frame aHash through the REAL RIFF/DIB
    // parse, slot-aligned band join + popcount, pairs kept at >= 2
    // matched frames — the video member of the q126/q129 modality
    // family; every pixel, gray, hash bit, band bucket and frame-match
    // count is integer arithmetic the oracle replays from the id alone
    Row("q146_video_fp", (s, d) =>
      graft.operators.Multimodal.syntheticAviHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3,
          minMatchedFrames = 2)
        .select(col("id_a"), col("id_b"), col("n_match"))
        .orderBy(col("id_a"), col("id_b")),
      // q126's pixel/gray/bit/band CTEs with a frame dimension (the frame
      // index folds into the seed as seed*31 + f; the odd perturbation
      // hits frame 0's pixel (0,0) only), candidates must match band AND
      // frame slot, per-slot popcount <= 3, then the matched-slot count
      // kept at >= 2 — mirrors Multimodal.syntheticAviHashPipeline end to
      // end without touching a byte
      s"""WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             8 + (doc_id // 2) % 16 AS w, 4 + (doc_id // 2) % 8 AS h,
             2 + (doc_id // 2) % 3 AS nf
           FROM documents),
         fr AS (
           SELECT doc_id, odd, seed, w, h, unnest(range(0, nf)) AS f
           FROM p),
         cells AS (
           SELECT fr.doc_id, fr.f, u2.j * 8 + u1.i AS idx,
             least(fr.w - 1, (u1.i * fr.w) // 8) AS sx,
             least(fr.h - 1, (u2.j * fr.h) // 8) AS sy,
             fr.odd, fr.seed
           FROM fr,
             LATERAL (SELECT unnest(range(0, 8)) AS i) u1,
             LATERAL (SELECT unnest(range(0, 8)) AS j) u2),
         px AS (
           SELECT doc_id, f, idx,
             sx * 2654435761 + sy * 2246822519
               + (seed * 31 + f) * 3266489917 AS v,
             CASE WHEN odd = 1 AND f = 0 AND sx = 0 AND sy = 0
               THEN 128 ELSE 0 END AS dp
           FROM cells),
         g AS (
           SELECT doc_id, f, idx,
             $graySql
           FROM px),
         bits AS (
           SELECT doc_id, f, idx,
             CASE WHEN gray * 64 > sum(gray) OVER (PARTITION BY doc_id, f)
               THEN 1 ELSE 0 END AS bit
           FROM g),
         bands AS (
           SELECT doc_id, f, idx // 16 AS band,
             CAST(sum(bit << CAST(idx % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, f, idx // 16),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f
           FROM bands a JOIN bands b
             ON a.f = b.f AND a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.id_a, c.id_b, c.f,
             sum(bit_count(xor(a.bucket, b.bucket))) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.id_a AND a.f = c.f
           JOIN bands b ON b.doc_id = c.id_b AND b.f = c.f
             AND b.band = a.band
           GROUP BY c.id_a, c.id_b, c.f),
         pairs AS (
           SELECT id_a, id_b, count(*) AS n_match
           FROM ham WHERE hamming <= 3 GROUP BY id_a, id_b)
         SELECT id_a, id_b, CAST(n_match AS BIGINT) AS n_match
         FROM pairs WHERE n_match >= 2 ORDER BY id_a, id_b""")
  )
}

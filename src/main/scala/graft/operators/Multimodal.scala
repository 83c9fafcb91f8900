package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque binary payload with typed metadata — the multimodal column model
  * (SURVEY §2.6 north-star): image/audio/video travel as `binary` plus a
  * metadata struct; heavy decode work runs batched per partition.
  */
final case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

/** Decoded-media metadata. Width/height/duration come from the decode stub. */
final case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
    width: Int, height: Int, duration_ms: Int)

object Multimodal {

  /** Ingest any column as an opaque binary payload with a kind tag.
    * At 100 TB the payload column stays untouched by Catalyst (no codegen on
    * the bytes) and the *metadata* columns carry predicates, so scans prune
    * on metadata without reading payload pages (parquet column split).
    */
  def ingest(df: DataFrame, idCol: String, srcCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(srcCol).cast("binary").as("payload"))

  /** Batched decode over partitions — the Scala analog of `mapInPandas`:
    * one iterator per partition, so a real decoder would amortize codec
    * setup across the whole batch rather than paying it per row.
    *
    * The metadata parse is REAL for formats whose headers are plain bytes:
    * WAV (RIFF chunk walk → duration from data size / byte rate) and BMP
    * (BITMAPINFOHEADER → width/height), implemented below with no codec
    * dependency and exact-value tested. Payloads with no recognized magic
    * (or a corrupt header) fall back to the deterministic fake — pixel/PCM
    * decoding of compressed formats still needs a codec the container
    * doesn't ship; swap the fallback for a JNI/javacv call in production.
    * A corrupt header degrades to the fake instead of failing the stage —
    * the poison-pill posture (§2.5) applied to media.
    */
  def decode(media: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      // per-partition setup would open the codec once, here
      records.map { r =>
        val (w, h, d) = parseHeader(r.kind, r.payload).getOrElse(fakeDecode(r.payload))
        MediaMeta(r.media_id, r.kind, r.payload.length.toLong, w, h, d)
      }
    }
  }

  /** Real header metadata for headers that are plain bytes, GATED ON the
    * record's declared kind — magic-sniffing every blob would mis-parse
    * e.g. a text payload that happens to start with "BM" (the record
    * carries a kind precisely so decode can dispatch). "audio" → WAV
    * (0, 0, duration_ms); "image" → BMP (width, |height|, 0) (negative BMP
    * height encodes top-down row order, not size). None = kind without a
    * dependency-free parser, unrecognized magic, or corrupt header.
    */
  private[operators] def parseHeader(kind: String,
      p: Array[Byte]): Option[(Int, Int, Int)] = {
    def u32(o: Int): Long =
      (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
        ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def i32(o: Int): Int = u32(o).toInt
    def tag(o: Int): String = new String(p, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (kind == "audio" && p.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE") {
        // chunk walk: need fmt's byteRate and the data chunk's size
        var pos = 12
        var byteRate = 0L
        var dataBytes = -1L
        var ok = true
        while (ok && pos + 8 <= p.length && (byteRate == 0 || dataBytes < 0)) {
          val id = tag(pos)
          val size = u32(pos + 4)
          if (id == "fmt " && pos + 20 <= p.length) byteRate = u32(pos + 16)
          else if (id == "data") dataBytes = size
          // a corrupt size that is negative-as-Int or runs past the buffer
          // would stall or cycle the walk — treat the header as broken
          if (size > p.length) ok = false
          else pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
        if (ok && byteRate > 0 && dataBytes >= 0)
          Some((0, 0, (dataBytes * 1000 / byteRate).toInt))
        else None
      } else if (kind == "image" && p.length >= 26 &&
          p(0) == 'B'.toByte && p(1) == 'M'.toByte) {
        val w = i32(18)
        val h = math.abs(i32(22))
        if (w > 0 && h > 0) Some((w, h, 0)) else None
      } else None
    } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException => None }
  }

  /** Deterministic fake decode: metadata from payload length + a byte mix. */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    var mix = 0x9E3779B9
    var i = 0
    while (i < math.min(payload.length, 64)) { mix = mix * 31 + payload(i); i += 1 }
    val w = 160 + math.floorMod(mix, 1760)
    val h = 90 + math.floorMod(mix >> 8, 990)
    // Long math: length * 40 would wrap as Int past ~53.6 MB payloads
    val d = 1000 + math.floorMod(payload.length.toLong * 40, 600000L).toInt
    (w, h, d)
  }

  /** PAYLOAD-level resize — REAL for uncompressed 24-bit bottom-up BMP
    * (nearest-neighbor sampling, rows re-padded to the 4-byte boundary,
    * headers rewritten; no codec dependency), passthrough for everything
    * else (compressed formats need a codec the container doesn't ship).
    * Aspect-fit into (maxW, maxH), never upscaling. Runs per partition
    * like [[decode]].
    */
  def resize(media: Dataset[MediaRecord], maxW: Int, maxH: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      if (r.kind == "image") resizeBmp(r.payload, maxW, maxH)
        .map(p => r.copy(payload = p)).getOrElse(r)
      else r
    })
  }

  /** Nearest-neighbor resize of an uncompressed 24bpp bottom-up BMP; None
    * when the payload is not such a BMP (or would not shrink).
    */
  private[operators] def resizeBmp(p: Array[Byte], maxW: Int,
      maxH: Int): Option[Array[Byte]] = {
    def u32(o: Int): Long =
      (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
        ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    try {
      if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte) return None
      val dataOff = u32(10).toInt
      val w = u32(18).toInt
      val h = u32(22).toInt // bottom-up only (positive height)
      val bpp = u16(28)
      val compression = u32(30)
      if (w <= 0 || h <= 0 || bpp != 24 || compression != 0) return None
      val srcStride = (w * 3 + 3) & ~3
      if (dataOff + srcStride.toLong * h > p.length) return None
      val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
      if (scale >= 1.0) return None // never upscale; no-op passthrough
      val nw = math.max(1, (w * scale).toInt)
      val nh = math.max(1, (h * scale).toInt)
      val dstStride = (nw * 3 + 3) & ~3
      val out = java.nio.ByteBuffer.allocate(54 + dstStride * nh)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte)
      out.putInt(54 + dstStride * nh).putInt(0).putInt(54)
      out.putInt(40).putInt(nw).putInt(nh)
      out.putShort(1.toShort).putShort(24.toShort)
      out.putInt(0).putInt(dstStride * nh) // BI_RGB, image size
      out.putInt(0).putInt(0).putInt(0).putInt(0)
      var y = 0
      while (y < nh) {
        val sy = math.min(h - 1, (y.toLong * h / nh).toInt)
        var x = 0
        while (x < nw) {
          val sx = math.min(w - 1, (x.toLong * w / nw).toInt)
          val src = dataOff + sy * srcStride + sx * 3
          val dst = 54 + y * dstStride + x * 3
          out.put(dst, p(src)); out.put(dst + 1, p(src + 1)); out.put(dst + 2, p(src + 2))
          x += 1
        }
        y += 1
      }
      Some(out.array())
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** Average-hash (aHash) perceptual fingerprint of an uncompressed 24bpp
    * bottom-up BMP: sample an 8x8 grid (the nearest-neighbor formula of
    * [[resizeBmp]]), gray each sample as (b+g+r)/3 integer math, set bit
    * j*8+i when the cell strictly exceeds the 64-cell mean (compared as
    * cell*64 > sum — no division, so the math is integer-exact and an
    * oracle replays it bit for bit). None when the payload is not such a
    * BMP. All arithmetic is deterministic: two pixel-identical images hash
    * identically, small edits flip few bits, and Hamming distance over the
    * packed 64-bit word measures visual near-duplication.
    */
  private[operators] def ahashBmp(p: Array[Byte]): Option[Long] = {
    def u32(o: Int): Long =
      (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
        ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    try {
      if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte) return None
      val dataOff = u32(10).toInt
      val w = u32(18).toInt
      val h = u32(22).toInt // bottom-up only (positive height)
      val bpp = u16(28)
      val compression = u32(30)
      if (w <= 0 || h <= 0 || bpp != 24 || compression != 0) return None
      val stride = (w * 3 + 3) & ~3
      if (dataOff + stride.toLong * h > p.length) return None
      Some(ahashPixels(p, dataOff, w, h, stride))
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** The aHash grid/gray/mean core over one 24bpp pixel plane at
    * `dataOff` — shared by [[ahashBmp]] and the per-frame hashing of
    * [[frameHashesAvi]] (an AVI `00db` frame is the same DIB plane
    * without the 14-byte BMP file header), so image and video
    * fingerprints are bit-identical for identical pixels by
    * construction. Caller validates bounds.
    */
  private def ahashPixels(p: Array[Byte], dataOff: Int, w: Int, h: Int,
      stride: Int): Long = {
    val gray = new Array[Int](64)
    var sum = 0L
    var j = 0
    while (j < 8) {
      val sy = math.min(h - 1, (j.toLong * h / 8).toInt)
      var i = 0
      while (i < 8) {
        val sx = math.min(w - 1, (i.toLong * w / 8).toInt)
        val o = dataOff + sy * stride + sx * 3
        val g = ((p(o) & 0xFF) + (p(o + 1) & 0xFF) + (p(o + 2) & 0xFF)) / 3
        gray(j * 8 + i) = g
        sum += g
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var idx = 0
    while (idx < 64) {
      if (gray(idx).toLong * 64 > sum) fp |= 1L << idx
      idx += 1
    }
    fp
  }

  /** Perceptual fingerprint column: (media_id, fp) — aHash for payloads the
    * dependency-free BMP path can read, xxhash64 of the raw bytes otherwise
    * (seed 42, identical to `functions.xxhash64`), so unknown formats still
    * dedup exactly (equal bytes → equal fp) while never near-matching by
    * accident (random 64-bit pairs land within Hamming 3 with probability
    * ~2^-44). Map-only: the payload bytes never cross an exchange.
    */
  def imageHash(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val fp = ahashBmp(r.payload).getOrElse(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          r.payload, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          r.payload.length, 42L))
      (r.media_id, fp)
    }).toDF("doc_id", "fp")
  }

  /** Visual near-dup pairs: perceptual hash each payload ([[imageHash]]),
    * then the shared 16-bit pigeonhole banding + exact popcount verify
    * ([[Dedup.fingerprintPairs]]) — image bytes stay map-side; only 8-byte
    * fingerprints shuffle. Returns (id_a, id_b, hamming <= maxHamming).
    */
  def imageHashPairs(media: Dataset[MediaRecord], maxHamming: Int = 3): DataFrame =
    Dedup.fingerprintPairs(imageHash(media), maxHamming)

  /** Deterministic pseudo-random 24bpp bottom-up BMP keyed by an arbitrary
    * seed — the planted-near-dup builder for the perceptual-hash battery
    * row: equal seeds give pixel-identical images; `perturb` shifts the
    * three channels of stored pixel (0, 0) by +128 mod 256, a one-pixel
    * edit that flips at most a couple of aHash cells. Channel math is pure
    * 64-bit integer arithmetic (v = x*2654435761 + y*2246822519 +
    * seed*3266489917; b,g,r = bytes 1..3 of v) so a SQL oracle recomputes
    * every pixel exactly.
    */
  def syntheticBmpKeyed(seed: Long, w: Int, h: Int, perturb: Boolean): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val buf = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + stride * h).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1.toShort).putShort(24.toShort)
    buf.putInt(0).putInt(stride * h)
    buf.putInt(0).putInt(0).putInt(0).putInt(0)
    for (y <- 0 until h; x <- 0 until w) {
      val v = x * 2654435761L + y * 2246822519L + seed * 3266489917L
      var b = ((v >> 8) & 0xFF).toInt
      var g = ((v >> 16) & 0xFF).toInt
      var r = ((v >> 24) & 0xFF).toInt
      if (perturb && x == 0 && y == 0) {
        b = (b + 128) & 0xFF; g = (g + 128) & 0xFF; r = (r + 128) & 0xFF
      }
      val o = 54 + y * stride + x * 3
      buf.put(o, b.toByte); buf.put(o + 1, g.toByte); buf.put(o + 2, r.toByte)
    }
    buf.array()
  }

  /** Synthesize a keyed BMP per id (seed = id/2, so consecutive even/odd
    * ids are one-pixel-apart near-dups), perceptual-hash the REAL bytes,
    * and band-join for Hamming pairs — the oracle-checkable slice of the
    * visual near-dup path: every pixel, gray value, hash bit, band bucket
    * and popcount follows arithmetically from the id, so a SQL oracle
    * replays the whole pipeline without touching a byte.
    */
  def syntheticBmpHashPipeline(spark: SparkSession, ids: DataFrame,
      idCol: String, maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val media = ids.select(col(idCol).cast("long").as("id")).as[Long]
      .mapPartitions(_.map { id =>
        val seed = id / 2
        val w = 8 + (seed % 32).toInt
        val h = 4 + (seed % 16).toInt
        MediaRecord(id, "image", syntheticBmpKeyed(seed, w, h, perturb = id % 2 == 1))
      })
    imageHashPairs(media, maxHamming)
  }

  /** 64-bit acoustic fingerprint of a PCM WAV payload — the audio twin of
    * [[ahashBmp]] (energy-profile hash, the dependency-free core of
    * chromaprint-style audio dedup): walk the RIFF chunks for a 16-bit PCM
    * `fmt ` + `data` chunk, read the interleaved samples as unsigned 16-bit
    * little-endian values, bucket them into 64 time frames (sample j →
    * frame j*64/n), and set bit f iff frame f's energy (Long sum of the
    * u16 values — exact, no floats anywhere) exceeds the 1/64 mean.
    * Re-encodings that preserve the energy envelope (level shifts below
    * the frame mean, short dropouts) land within small Hamming distance;
    * unrelated clips match a given band with probability 2^-16.
    * Returns None for non-PCM/non-16-bit/undersized payloads (fewer than
    * 64 samples has no stable envelope).
    */
  private[operators] def energyHashWav(p: Array[Byte]): Option[Long] = {
    def u32(o: Int): Long =
      (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
        ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    def tag(o: Int): String =
      new String(p, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (p.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      // chunk walk (same discipline as parseHeader): find fmt + data
      var pos = 12
      var fmtOk = false
      var dataOff = -1
      var dataBytes = -1
      var ok = true
      while (ok && pos + 8 <= p.length && (!fmtOk || dataOff < 0)) {
        val id = tag(pos)
        val size = u32(pos + 4)
        if (id == "fmt " && pos + 24 <= p.length)
          fmtOk = u16(pos + 8) == 1 && u16(pos + 22) == 16 // PCM, 16-bit
        else if (id == "data") { dataOff = pos + 8; dataBytes = size.toInt }
        if (size > p.length) ok = false
        else pos += 8 + size.toInt + (size.toInt & 1)
      }
      if (!ok || !fmtOk || dataOff < 0) return None
      val n = math.min(dataBytes, p.length - dataOff) / 2
      if (n < 64) return None
      val energy = new Array[Long](64)
      var total = 0L
      var j = 0
      while (j < n) {
        val s = u16(dataOff + 2 * j).toLong
        energy((j * 64L / n).toInt) += s
        total += s
        j += 1
      }
      var fp = 0L
      var f = 0
      while (f < 64) {
        if (energy(f) * 64 > total) fp |= 1L << f
        f += 1
      }
      Some(fp)
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** Acoustic fingerprint column: (media_id, fp) — energy hash for payloads
    * the PCM WAV path can read, xxhash64 of the raw bytes otherwise (seed
    * 42), mirroring [[imageHash]]'s contract: unknown/compressed formats
    * still dedup exactly on identical bytes while never near-matching by
    * accident. Map-only; payload bytes never cross an exchange.
    */
  def audioHash(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val fp = energyHashWav(r.payload).getOrElse(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          r.payload, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          r.payload.length, 42L))
      (r.media_id, fp)
    }).toDF("doc_id", "fp")
  }

  /** Acoustic near-dup pairs: [[audioHash]] each payload, then the shared
    * 16-bit pigeonhole banding + exact popcount verify
    * ([[Dedup.fingerprintPairs]]) — audio bytes stay map-side; only 8-byte
    * fingerprints shuffle. Returns (id_a, id_b, hamming <= maxHamming).
    */
  def audioHashPairs(media: Dataset[MediaRecord], maxHamming: Int = 3): DataFrame =
    Dedup.fingerprintPairs(audioHash(media), maxHamming)

  /** Deterministic pseudo-random 16-bit mono PCM WAV keyed by a seed — the
    * planted-near-dup builder for the acoustic-fingerprint battery row:
    * equal seeds give sample-identical clips; `perturb` shifts stored
    * sample 0 by +32768 mod 65536, a one-sample edit that moves at most a
    * frame or two of the energy hash. Sample j is stored little-endian as
    * the unsigned 16-bit value ((j*2654435761 + seed*3266489917) >> 16) &
    * 0xFFFF — pure 64-bit integer arithmetic, so a SQL oracle recomputes
    * every sample, frame energy, hash bit, band bucket and popcount
    * exactly. `nSamples` must be a positive multiple of 64 so frames
    * partition evenly on both sides.
    */
  def syntheticWavKeyed(seed: Long, nSamples: Int, perturb: Boolean): Array[Byte] = {
    require(nSamples > 0 && nSamples % 64 == 0,
      "nSamples must be a positive multiple of 64")
    val wav = syntheticWav(8000, 1, 16, nSamples * 2)
    val buf = java.nio.ByteBuffer.wrap(wav)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var j = 0
    while (j < nSamples) {
      var s = (((j * 2654435761L + seed * 3266489917L) >> 16) & 0xFFFFL).toInt
      if (perturb && j == 0) s = (s + 32768) & 0xFFFF
      buf.putShort(44 + 2 * j, s.toShort)
      j += 1
    }
    wav
  }

  /** Synthesize a keyed WAV per id (seed = id/2, so consecutive even/odd
    * ids are one-sample-apart near-dups; clip length 256..704 samples from
    * the seed), energy-hash the REAL bytes through the RIFF/PCM parse, and
    * band-join for Hamming pairs — the oracle-checkable slice of the
    * acoustic near-dup path, mirroring [[syntheticBmpHashPipeline]].
    */
  def syntheticWavHashPipeline(spark: SparkSession, ids: DataFrame,
      idCol: String, maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val media = ids.select(col(idCol).cast("long").as("id")).as[Long]
      .mapPartitions(_.map { id =>
        val seed = id / 2
        val n = 64 * (4 + (seed % 8).toInt)
        MediaRecord(id, "audio", syntheticWavKeyed(seed, n, perturb = id % 2 == 1))
      })
    audioHashPairs(media, maxHamming)
  }

  /** Per-frame aHash fingerprints of an uncompressed 24bpp AVI payload —
    * the video member of the perceptual-fingerprint family
    * ([[ahashBmp]] image, [[energyHashWav]] audio): walk the RIFF
    * chunks (the [[energyHashWav]] discipline — AVI is RIFF too) to the
    * `hdrl` stream-format header for the frame geometry and the `movi`
    * list for the `00db` uncompressed-frame chunks, then hash every
    * frame's DIB plane through the one [[ahashPixels]] core — identical
    * pixels hash identically across the image and video paths by
    * construction. Returns one 64-bit fingerprint per stored frame, in
    * stream order; None for payloads that are not such an AVI
    * (compressed streams, non-24bpp, truncated chunks).
    */
  private[operators] def frameHashesAvi(p: Array[Byte]): Option[Seq[Long]] = {
    def u32(o: Int): Long =
      (p(o) & 0xFFL) | ((p(o + 1) & 0xFFL) << 8) |
        ((p(o + 2) & 0xFFL) << 16) | ((p(o + 3) & 0xFFL) << 24)
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    def tag(o: Int): String =
      new String(p, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (p.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
      // recursive chunk walk: find the first `strf` BITMAPINFOHEADER
      // (frame geometry) and collect `00db` frame chunk offsets
      var w = -1; var h = -1; var ok = true
      val frames = scala.collection.mutable.ArrayBuffer.empty[Int]
      // depth-bounded so adversarial LIST-in-LIST nesting cannot blow
      // the stack (real AVIs nest hdrl/strl/movi <= 3 deep; the parsers
      // must be TOTAL — the MediaFuzzSpec contract)
      def walk(from: Int, to: Int, depth: Int): Unit = {
        if (depth > 16) { ok = false; return }
        var pos = from
        while (ok && pos + 8 <= to) {
          val id = tag(pos)
          val size = u32(pos + 4)
          if (pos + 8 + size > to) { ok = false; return }
          if (id == "LIST" && size >= 4)
            walk(pos + 12, pos + 8 + size.toInt, depth + 1)
          else if (id == "strf" && size >= 40 && w < 0) {
            if (u16(pos + 8 + 14) != 24 || u32(pos + 8 + 16) != 0) ok = false
            else { w = u32(pos + 8 + 4).toInt; h = u32(pos + 8 + 8).toInt }
          } else if (id == "00db") frames += pos + 8
          pos += 8 + size.toInt + (size.toInt & 1)
        }
      }
      walk(12, p.length, 0)
      if (!ok || w <= 0 || h <= 0 || frames.isEmpty) return None
      // Long stride math: a forged 2^30-wide header must fail the bounds
      // check, not wrap Int arithmetic into in-bounds garbage reads
      val strideL = (w.toLong * 3 + 3) & ~3L
      if (strideL * h > p.length) return None
      val stride = strideL.toInt
      if (frames.exists(_ + stride.toLong * h > p.length)) return None
      Some(frames.toSeq.map(off => ahashPixels(p, off, w, h, stride)))
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** Per-frame fingerprint column: (doc_id, f, fp) — aHash per stored
    * frame for payloads the dependency-free AVI path can read, one
    * frame-0 xxhash64 row of the raw bytes otherwise (seed 42, the
    * [[imageHash]]/[[audioHash]] contract: unknown/compressed containers
    * still dedup exactly on identical bytes while never near-matching
    * by accident). Map-only; video bytes never cross an exchange — at
    * 100 TB only (id, frame-slot, 8-byte fingerprint) rows shuffle.
    * Public entry point: the per-frame fingerprint column for callers that pair
    * videos themselves.
    */
  def videoFrameHashes(media: Dataset[MediaRecord]): DataFrame =
    frameHashRows(media).drop("nf")

  /** [[videoFrameHashes]] plus the payload's own frame count `nf`,
    * computed map-side while the frames are in hand (fallback rows have
    * nf = 1) — [[videoHashPairs]] needs each side's slot count to cap
    * its matched-frame gate, and carrying the integer here costs zero
    * joins/exchanges where a groupBy-count rollup would cost one.
    */
  private def frameHashRows(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      frameHashesAvi(r.payload) match {
        case Some(hs) =>
          hs.zipWithIndex.map { case (fp, f) => (r.media_id, f, fp, hs.length) }
        case None => Seq((r.media_id, 0,
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            r.payload, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            r.payload.length, 42L), 1))
      }
    }).toDF("doc_id", "f", "fp", "nf")
  }

  /** Video near-dup pairs: per-frame perceptual fingerprints
    * ([[videoFrameHashes]]), the 16-bit pigeonhole banding PER FRAME
    * SLOT (candidates must match band AND slot — two clips are near-dups
    * when their frames align, not when any frame of one resembles any
    * frame of the other), the exact popcount verify per slot, then one
    * (pair) aggregate counting matched slots, kept at
    * `minMatchedFrames`+ — a short re-encode that preserves most frames
    * still pairs, one coincidentally similar frame does not. The gate
    * caps at the pair's OWN slot count, `least(minMatchedFrames, nf_a,
    * nf_b)`: a 1-frame clip or a fallback-hashed unknown container has
    * exactly one slot to match, and demanding two would silently drop
    * byte-identical payloads — contradicting [[videoFrameHashes]]'s
    * unknown-formats-still-dedup-exactly contract. Returns
    * (id_a, id_b, n_match). Same scale posture as
    * [[Dedup.fingerprintPairs]]: banded equi-joins, never all-pairs;
    * only fingerprints and slot indexes shuffle (the per-payload frame
    * count rides the map-side hash rows, costing no rollup join).
    */
  def videoHashPairs(media: Dataset[MediaRecord], maxHamming: Int = 3,
      minMatchedFrames: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding guarantees candidate recall only for maxHamming <= 3 (pigeonhole)")
    require(minMatchedFrames >= 1, "minMatchedFrames must be >= 1")
    val fps = frameHashRows(media)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    val bands = fps.select(col("doc_id"), col("f"), col("fp"), col("nf"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("f"), col("fp"), col("nf"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.f") === col("b.f") && col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.f").as("f"), col("a.nf").as("nf_a"), col("b.nf").as("nf_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_match"),
        least(min(col("nf_a")), min(col("nf_b")),
          lit(minMatchedFrames)).as("__gate"))
      .where(col("n_match") >= col("__gate"))
      .select(col("id_a"), col("id_b"), col("n_match"))
  }

  /** Deterministic pseudo-random uncompressed 24bpp AVI keyed by a seed
    * — the planted-near-dup builder for the video battery row,
    * mirroring [[syntheticBmpKeyed]]/[[syntheticWavKeyed]]: a REAL
    * RIFF/AVI container (`hdrl` with avih + one `vids`/`DIB ` stream,
    * `movi` with one `00db` DIB chunk per frame) whose frame-f pixel
    * (x, y) channels derive from v = x*2654435761 + y*2246822519 +
    * (seed*31 + f)*3266489917 (b,g,r = bytes 1..3 of v) — the
    * [[syntheticBmpKeyed]] formula with the frame index folded into the
    * seed, pure 64-bit integer arithmetic a SQL oracle replays exactly.
    * Equal seeds give frame-identical clips; `perturb` shifts the three
    * channels of frame 0's stored pixel (0, 0) by +128 mod 256 — a
    * one-pixel edit in one frame, so every OTHER frame still matches
    * exactly.
    */
  def syntheticAviKeyed(seed: Long, w: Int, h: Int, nFrames: Int,
      perturb: Boolean): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0, "w, h, nFrames must be positive")
    val stride = (w * 3 + 3) & ~3
    val frameBytes = stride * h
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = s.foreach(c => buf.put(c.toByte))
    fourcc("RIFF"); buf.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); buf.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); buf.putInt(56)
    buf.putInt(100000).putInt(0).putInt(0).putInt(0) // usec/frame, maxbps, pad, flags
    buf.putInt(nFrames).putInt(0).putInt(1).putInt(frameBytes)
    buf.putInt(w).putInt(h)
    buf.putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    fourcc("LIST"); buf.putInt(strlSize); fourcc("strl")
    fourcc("strh"); buf.putInt(56)
    fourcc("vids"); fourcc("DIB ")
    buf.putInt(0).putShort(0.toShort).putShort(0.toShort) // flags, prio, lang
    buf.putInt(0).putInt(1).putInt(10) // initial, scale, rate
    buf.putInt(0).putInt(nFrames).putInt(frameBytes).putInt(0) // start, length, bufsize, quality
    buf.putInt(0) // sample size
    buf.putShort(0.toShort).putShort(0.toShort) // rcFrame
    buf.putShort(w.toShort).putShort(h.toShort)
    fourcc("strf"); buf.putInt(40) // BITMAPINFOHEADER
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1.toShort).putShort(24.toShort)
    buf.putInt(0).putInt(frameBytes)
    buf.putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); buf.putInt(moviSize); fourcc("movi")
    var f = 0
    while (f < nFrames) {
      fourcc("00db"); buf.putInt(frameBytes)
      val base = buf.position()
      val fSeed = seed * 31 + f
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = x * 2654435761L + y * 2246822519L + fSeed * 3266489917L
          var b = ((v >> 8) & 0xFF).toInt
          var g = ((v >> 16) & 0xFF).toInt
          var r = ((v >> 24) & 0xFF).toInt
          if (perturb && f == 0 && x == 0 && y == 0) {
            b = (b + 128) & 0xFF; g = (g + 128) & 0xFF; r = (r + 128) & 0xFF
          }
          val o = base + y * stride + x * 3
          buf.put(o, b.toByte); buf.put(o + 1, g.toByte)
          buf.put(o + 2, r.toByte)
          x += 1
        }
        y += 1
      }
      buf.position(base + frameBytes)
      f += 1
    }
    buf.array()
  }

  /** Synthesize a keyed AVI per id (seed = id/2, so consecutive even/odd
    * ids are near-dups differing by one pixel of frame 0; 2-4 frames and
    * the geometry from the seed), per-frame-hash the REAL bytes through
    * the RIFF/DIB parse, and slot-aligned band-join for
    * matched-frame-count pairs — the oracle-checkable slice of the video
    * near-dup path, mirroring [[syntheticBmpHashPipeline]].
    */
  def syntheticAviHashPipeline(spark: SparkSession, ids: DataFrame,
      idCol: String, maxHamming: Int = 3,
      minMatchedFrames: Int = 2): DataFrame = {
    import spark.implicits._
    val media = ids.select(col(idCol).cast("long").as("id")).as[Long]
      .mapPartitions(_.map { id =>
        val seed = id / 2
        val w = 8 + (seed % 16).toInt
        val h = 4 + (seed % 8).toInt
        val nf = 2 + (seed % 3).toInt
        MediaRecord(id, "video",
          syntheticAviKeyed(seed, w, h, nf, perturb = id % 2 == 1))
      })
    videoHashPairs(media, maxHamming, minMatchedFrames)
  }

  /** Canonical 44-byte PCM WAV header + zeroed data — a to-spec synthetic
    * payload builder (used by the q60 battery query and the decode tests,
    * single source of truth for the byte layout).
    */
  def syntheticWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      dataBytes: Int): Array[Byte] = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataBytes); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1.toShort); buf.putShort(channels.toShort)
    buf.putInt(sampleRate); buf.putInt(byteRate)
    buf.putShort((channels * bitsPerSample / 8).toShort)
    buf.putShort(bitsPerSample.toShort)
    buf.put("data".getBytes); buf.putInt(dataBytes)
    buf.array()
  }

  /** Uncompressed 24bpp bottom-up BMP with deterministic pixels — the
    * synthetic payload builder for the resize-under-oracle query (q64) and
    * the resize tests.
    */
  def syntheticBmp(w: Int, h: Int): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val buf = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + stride * h).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1.toShort).putShort(24.toShort)
    buf.putInt(0).putInt(stride * h)
    buf.putInt(0).putInt(0).putInt(0).putInt(0)
    for (y <- 0 until h; x <- 0 until w) {
      val o = 54 + y * stride + x * 3
      buf.put(o, ((x + y) % 256).toByte)
      buf.put(o + 1, (x % 256).toByte)
      buf.put(o + 2, (y % 256).toByte)
    }
    buf.array()
  }

  /** Synthesize a deterministic BMP per id, run it through the REAL
    * byte-level [[resize]], and decode the result — the resize path's
    * oracle-checkable slice (twin of [[syntheticWavPipeline]]): expected
    * output dimensions and byte counts follow arithmetically from the
    * aspect-fit and stride formulas, so an oracle recomputes them without
    * touching pixels.
    */
  def syntheticBmpResizePipeline(spark: SparkSession, ids: DataFrame,
      idCol: String, maxW: Int, maxH: Int): DataFrame = {
    import spark.implicits._
    val media = ids.select(col(idCol).cast("long").as("id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 8 + (id % 32).toInt
        val h = 4 + (id % 16).toInt
        MediaRecord(id, "image", syntheticBmp(w, h))
      })
    decode(resize(media, maxW, maxH)).toDF()
  }

  /** Synthesize a deterministic WAV per id and run it through the REAL
    * header parser — the decode path's oracle-checkable slice: an oracle
    * can recompute the expected duration arithmetically (data bytes * 1000
    * `div` byte rate) without touching bytes, so a parser regression
    * hash-mismatches. Parameters derive from the id (varied sample rates,
    * mono/stereo, varied data sizes).
    */
  def syntheticWavPipeline(spark: SparkSession, ids: DataFrame,
      idCol: String): DataFrame = {
    import spark.implicits._
    val media = ids.select(col(idCol).cast("long").as("id")).as[Long]
      .mapPartitions(_.map { id =>
        val sampleRate = 8000 + (id % 8).toInt * 1000
        val channels = 1 + (id % 2).toInt
        val dataBytes = 1000 + (id % 50).toInt * 100
        MediaRecord(id, "audio", syntheticWav(sampleRate, channels, 16, dataBytes))
      })
    decode(media).toDF()
  }

  /** End-to-end stub pipeline over the documents table: text bytes stand in
    * for media payloads; output is the typed metadata view.
    */
  def documentMediaPipeline(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val media = ingest(docs, "doc_id", "text", "image").as[MediaRecord]
    decode(media).toDF()
  }
}

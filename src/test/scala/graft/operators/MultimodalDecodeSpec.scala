package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The multimodal decode step's REAL slice: WAV and BMP header metadata is
  * parsed from actual bytes (built here to spec), exact values asserted
  * through the full Dataset pipeline; unrecognized or corrupt payloads
  * degrade to the deterministic fake instead of failing the stage.
  */
class MultimodalDecodeSpec extends AnyFunSuite with Matchers with SparkSpec {

  /** Canonical PCM WAV bytes — the production builder, single source of
    * truth for the layout ([[Multimodal.syntheticWav]]).
    */
  private def wav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      dataBytes: Int): Array[Byte] =
    Multimodal.syntheticWav(sampleRate, channels, bitsPerSample, dataBytes)

  /** Minimal BMP: BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40). */
  private def bmp(width: Int, height: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte); buf.put('M'.toByte)
    buf.putInt(54); buf.putInt(0); buf.putInt(54)
    buf.putInt(40); buf.putInt(width); buf.putInt(height)
    buf.putShort(1.toShort); buf.putShort(24.toShort)
    buf.array()
  }

  private def decodeOne(payload: Array[Byte], kind: String): MediaMeta = {
    import spark.implicits._
    Multimodal.decode(Seq(MediaRecord(1L, kind, payload)).toDS()).head()
  }

  test("WAV duration parsed from byte rate and data size") {
    // 44100 Hz, 2ch, 16-bit → byteRate 176400; 88200 data bytes = 500 ms
    val m = decodeOne(wav(44100, 2, 16, 88200), "audio")
    m.duration_ms shouldBe 500
    m.width shouldBe 0
    m.height shouldBe 0
    m.n_bytes shouldBe (44L + 88200L)
  }

  test("WAV chunk walk skips unknown chunks before data") {
    // splice a LIST chunk between fmt and data
    val base = wav(8000, 1, 8, 4000) // byteRate 8000 → 500 ms
    val buf = ByteBuffer.allocate(base.length + 12).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(base, 0, 36)                 // up to end of fmt chunk
    buf.put("LIST".getBytes); buf.putInt(4); buf.put("INFO".getBytes)
    buf.put(base, 36, base.length - 36)  // data chunk
    val m = decodeOne(buf.array(), "audio")
    m.duration_ms shouldBe 500
  }

  test("BMP width/height parsed; negative (top-down) height is |height|") {
    decodeOne(bmp(1920, 1080), "image").width shouldBe 1920
    decodeOne(bmp(1920, 1080), "image").height shouldBe 1080
    decodeOne(bmp(640, -480), "image").height shouldBe 480
  }

  test("unrecognized and corrupt payloads fall back to the deterministic fake") {
    val plain = decodeOne("not a media file".getBytes, "image")
    plain.width should be > 0 // fake metadata, not a crash
    // RIFF magic but truncated before any chunk fits
    val corrupt = "RIFF\u0000\u0000\u0000\u0000WAVEfmt".getBytes ++ Array.fill(30)(0.toByte)
    noException should be thrownBy decodeOne(corrupt, "audio")
  }

  test("BMP payload resize: real pixels, nearest-neighbor, headers rewritten") {
    import spark.implicits._
    // 4x2 24bpp bottom-up BMP with distinct per-pixel colors: pixel (x, y
    // from top) = (B, G, R) = (x, y, 42)
    val w = 4; val h = 2
    val stride = (w * 3 + 3) & ~3
    val buf = ByteBuffer.allocate(54 + stride * h).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + stride * h).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1.toShort).putShort(24.toShort)
    buf.putInt(0).putInt(stride * h)
    buf.putInt(0).putInt(0).putInt(0).putInt(0)
    for (yTop <- 0 until h; x <- 0 until w) {
      val row = h - 1 - yTop // bottom-up storage
      val o = 54 + row * stride + x * 3
      buf.put(o, x.toByte); buf.put(o + 1, yTop.toByte); buf.put(o + 2, 42.toByte)
    }
    val src = buf.array()

    val resized = Multimodal.resize(
      Seq(MediaRecord(1L, "image", src)).toDS(), maxW = 2, maxH = 2)
      .head().payload
    // headers: 2x1 (aspect-fit 4x2 into 2x2, no upscale)
    Multimodal.parseHeader("image", resized) shouldBe Some((2, 1, 0))
    // nearest-neighbor: output pixel x=0 samples src x=0, x=1 samples x=2;
    // single row samples top row (y=0) stored bottom-up at row 0 of 1
    val dstStride = (2 * 3 + 3) & ~3
    resized.length shouldBe (54 + dstStride * 1)
    resized(54) shouldBe 0.toByte   // B of sampled (0, 0)
    resized(54 + 3) shouldBe 2.toByte // B of sampled (2, 0)
    resized(54 + 2) shouldBe 42.toByte // R channel carried

    // non-BMP payloads pass through untouched
    val plain = Multimodal.resize(
      Seq(MediaRecord(2L, "image", "just text".getBytes)).toDS(), 2, 2)
      .head().payload
    new String(plain) shouldBe "just text"
  }
}

package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing: metadata, frame sampling, stub
  * decode via typed mapPartitions. */
class MultimodalSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet(sf() + "/documents.parquet")
    .withColumn("payload", encode(col("text"), "UTF-8"))

  test("metadata: byte_len, md5, magic over binary payloads") {
    val m = docs.select(col("doc_id"), col("text"),
      Multimodal.metadata(col("payload")).as("meta")).limit(5).collect()
    m.foreach { r =>
      val text = r.getAs[String]("text")
      val meta = r.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Long]("byte_len") === text.getBytes("UTF-8").length)
      assert(meta.getAs[String]("md5").length === 32)
      assert(meta.getAs[String]("magic").length <= 8)
    }
  }

  test("frame sampling: every k-th fixed-size slice, short tail kept") {
    val one = docs.limit(1)
    val frames = Multimodal.frameRows(one, "payload", "doc_id",
      frameSize = 64, every = 4).collect()
    val textLen = one.select(length(col("payload"))).collect().head.getInt(0)
    val nFrames = (textLen + 63) / 64
    val expected = (0 until nFrames).count(_ % 4 == 0)
    assert(frames.length === expected)
    assert(frames.map(_.getAs[Int]("frame_idx")).forall(_ % 4 == 0))
  }

  test("bmp codec: known fixture decodes to exact dims and brightness") {
    import graft.multimodal.{Bmp, Ppm}
    // 2×2 image: black, white, mid-gray, pure red (top-down RGB)
    val rgb = Array[Byte](
      0, 0, 0, -1, -1, -1, // (0,0) black, (1,0) white (255 = -1 as byte)
      127, 127, 127, -1, 0, 0) // (0,1) gray 127, (1,1) red
    val bmp = Bmp.decode(Bmp.encode(2, 2, rgb)).get
    assert(bmp.width == 2 && bmp.height == 2 && bmp.channels == 3)
    val expected = (0.0 + 255.0 + 127.0 + 255.0 / 3) / 4 / 255.0
    assert(math.abs(bmp.brightness - expected) < 1e-12)
    // width 3 exercises row padding (9-byte rows padded to 12)
    val rgb3 = Array.fill[Byte](3 * 2 * 3)(60)
    val padded = Bmp.decode(Bmp.encode(3, 2, rgb3)).get
    assert(padded.width == 3 && padded.height == 2)
    assert(math.abs(padded.brightness - 60.0 / 255.0) < 1e-12)
    // PPM round-trip with a comment in the header
    val ppmBytes = Ppm.encode(2, 1, Array[Byte](10, 20, 30, 40, 50, 60))
    val ppm = Ppm.decode(ppmBytes).get
    assert(ppm.width == 2 && ppm.height == 1 && ppm.channels == 3)
    assert(math.abs(ppm.brightness - (20.0 + 50.0) / 2 / 255.0) < 1e-12)
  }

  test("decodeImages: real BMP payloads through the typed partition path") {
    import spark.implicits._
    val rgb = Array.fill[Byte](4 * 4 * 3)(100)
    val payloads = Seq(
      (1L, graft.multimodal.Bmp.encode(4, 4, rgb)),
      (2L, "not an image at all".getBytes("UTF-8"))) // → stub fallback
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(payloads, "payload", "doc_id")
      .collect().sortBy(_.id)
    assert(out(0).width == 4 && out(0).height == 4 && out(0).channels == 3)
    assert(math.abs(out(0).brightness - 100.0 / 255.0) < 1e-12)
    assert(out(1).width >= 64) // fallback stub dims, clearly not 4×4
  }

  test("syntheticBmp: deterministic real BMP whose pixels are the text") {
    val b = Multimodal.syntheticBmp(7L, "x" * (16 * 3 * 2)) // exactly 2 rows
    val r = graft.multimodal.Bmp.decode(b).get
    assert(r.width == 16 && r.height == 2 && r.channels == 3)
    assert(math.abs(r.brightness - 'x'.toInt / 255.0) < 1e-12)
    assert(Multimodal.syntheticBmp(7L, "abc").toSeq ===
      Multimodal.syntheticBmp(7L, "abc").toSeq)
  }

  test("bmp codec: random-raster round-trip property") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val w = 1 + rnd.nextInt(17)
      val h = 1 + rnd.nextInt(9)
      val rgb = Array.fill[Byte](w * h * 3)(rnd.nextInt(256).toByte)
      val dec = graft.multimodal.Bmp.decode(graft.multimodal.Bmp.encode(w, h, rgb)).get
      assert(dec.width == w && dec.height == h && dec.channels == 3)
      val want = rgb.grouped(3)
        .map(p => ((p(0) & 0xff) + (p(1) & 0xff) + (p(2) & 0xff)) / 3.0)
        .sum / (w * h) / 255.0
      assert(math.abs(dec.brightness - want) < 1e-9, s"w=$w h=$h")
      val ppm = graft.multimodal.Ppm.decode(
        graft.multimodal.Ppm.encode(w, h, rgb)).get
      assert(ppm.width == w && ppm.height == h &&
        math.abs(ppm.brightness - want) < 1e-9)
    }
  }

  test("imageio codec: png/gif exact, jpeg lossy-close, twin parity") {
    import graft.multimodal.{Bmp, ImageIoCodec}
    // PNG fixture via the JDK writer: exact round-trip
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, 0x405060)
    def enc(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val want = (0x40 + 0x50 + 0x60) / 3.0 / 255.0
    val png = ImageIoCodec.decode(enc("png")).get
    assert(png.width == 3 && png.height == 2 && png.channels == 3)
    assert(math.abs(png.brightness - want) < 1e-12)
    val gif = ImageIoCodec.decode(enc("gif")).get
    assert(gif.width == 3 && gif.height == 2)
    assert(math.abs(gif.brightness - want) < 1e-12)
    val jpg = ImageIoCodec.decode(enc("jpg")).get
    assert(jpg.width == 3 && jpg.height == 2)
    assert(math.abs(jpg.brightness - want) < 0.05) // lossy
    // synthetic BMP and PNG twins carry identical pixels → identical decode
    val t = "the quick brown fox " * 5
    val viaBmp = Bmp.decode(Multimodal.syntheticBmp(11L, t)).get
    val viaPng = ImageIoCodec.decode(Multimodal.syntheticPng(11L, t)).get
    assert(viaBmp.width == viaPng.width && viaBmp.height == viaPng.height)
    assert(math.abs(viaBmp.brightness - viaPng.brightness) < 1e-12)
    // non-image bytes: not recognized, no throw
    assert(ImageIoCodec.decode("plain text".getBytes("UTF-8")).isEmpty)
    // truncated PNG: magic matches but decode fails gracefully
    assert(ImageIoCodec.decode(enc("png").take(20)).isEmpty)
  }

  test("bmp codec: malformed headers are rejected, never thrown") {
    import graft.multimodal.Bmp
    import java.nio.{ByteBuffer, ByteOrder}
    val good = Bmp.encode(4, 4, Array.fill[Byte](4 * 4 * 3)(50))
    def patched(off: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(off, v)
      b
    }
    assert(Bmp.decode(patched(10, -4)).isEmpty) // negative dataOffset
    assert(Bmp.decode(patched(10, 12)).isEmpty) // dataOffset inside header
    assert(Bmp.decode(patched(10, good.length + 1)).isEmpty) // past the end
    // width whose stride overflows Int (0x40000000 * 3 bytes/px)
    assert(Bmp.decode(patched(18, 0x40000000)).isEmpty)
    assert(Bmp.decode(patched(22, Int.MinValue)).isEmpty) // |height| < 0
    // adversarial: anything starting with 'BM' must decode or return None
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val junk = Array.fill[Byte](54 + rnd.nextInt(128))(rnd.nextInt(256).toByte)
      junk(0) = 'B'.toByte; junk(1) = 'M'.toByte
      Bmp.decode(junk) // must not throw
    }
  }

  test("decodeOne degrades corrupt payloads to the stub, not a task failure") {
    // a payload that passes the magic check but lies about its geometry
    val lying = graft.multimodal.Bmp.encode(4, 4, Array.fill[Byte](48)(9))
      .take(40) // truncated mid-header/pixels
    val out = Multimodal.decodeOne(5L, lying)
    assert(out.id == 5L && out.width >= 64) // stub dims, no exception
  }

  test("decode stub: deterministic, partition-parallel, typed output") {
    val out = Multimodal.decodeImages(
      docs.repartition(3), "payload", "doc_id")
    val rows = out.collect().sortBy(_.id)
    assert(rows.length === docs.count())
    assert(rows.forall(r => r.width >= 64 && r.height >= 64 && r.channels == 3))
    assert(rows.forall(r => r.brightness >= 0.0 && r.brightness <= 1.0))
    // determinism across runs/partitionings
    val again = Multimodal.decodeImages(
      docs.repartition(7), "payload", "doc_id").collect().sortBy(_.id)
    assert(rows.toSeq === again.toSeq)
  }
}
